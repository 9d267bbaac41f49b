"""The superstep loop shared by the fixpoint algorithms, and its durable state.

``supersteps()`` runs PageRank, connected components, label propagation,
HITS, and the color and reach max fixpoints of every SCC outer round.
Each superstep is one dataflow, vertex state ⋈ messages →
group-by (the Pregelix shape), written by the algorithm as a
``step(state, last_stats) -> plan`` builder; ``supersteps()`` owns
everything around it:

- **State layout.** The initial state is repartitioned and sorted by
  ``id`` (the layout of the algorithms' edge caches, so the per-superstep
  sort-merge joins skip the state-side exchange and sort). Fresh state
  is a lazy ``localCheckpoint``; a resumed Parquet read-back is
  persisted and counted.
- **One job per superstep.** The plan becomes a lazy
  ``localCheckpoint`` and ONE ``agg(*stats).first()`` is its
  materializing action: the job computes the superstep, caches it at the
  RDD layer, cuts lineage and returns the convergence statistics. The
  snapshot keeps the physical partitioning and ordering, so the next
  superstep's joins never re-exchange the state side, and lineage stays
  one leaf deep. The next state is derived from the snapshot and the
  previous snapshot is released.
- **Size estimates reset.** Each snapshot leaf drops the size estimate
  it would inherit from the superstep's plan (``_snapshot``), so
  estimates never compound from one superstep to the next.
- **Durable state** (``checkpoint_dir=``). The directory is fingerprinted
  to the (graph, parameters) job, resumes from its newest complete
  snapshot and saves every ``checkpoint_interval`` supersteps, on
  convergence and on the last allowed superstep.
- **Records.** One dict per executed superstep: ``iteration``, the
  statistics by name, ``converged`` and ``total_s`` (plan, materialization
  and statistic; not the durable save).

Fault-tolerance trade: the per-superstep snapshots are UNREPLICATED
local checkpoints, Spark's documented trade of executor-loss
recomputability for speed. In local mode (one JVM) there is nothing to
lose; on a cluster, losing an executor mid-run aborts the job, and the
recovery path is ``checkpoint_dir=``: state snapshots to Parquet with a
commit-marked manifest and resumes exactly.

Durable snapshots replace the reference's crash-recovery protocol, full
``State`` replication master→workers once per iteration
(``pkg/node/master.go:225-241``, report §III.C: queues drain at iteration
boundaries, a consistent cut), with a snapshot to Parquet + a JSON
manifest. The manifest is written LAST and acts as the commit marker, so
a killed job resumes from the newest *complete* iteration. Each manifest
records the iteration, the loop's statistics and per-partition lineage
(rows per physical partition of the snapshot — the evidence trail for
skew).

Filesystem access goes through the Hadoop ``FileSystem`` API (via the
session's JVM gateway), so the same code works on ``file:``, ``hdfs:``
or ``s3a:`` checkpoint locations — required on a real cluster.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Any, Callable, Iterable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

MANIFEST = "manifest.json"

# Runtime confs pinned for the duration of the betweenness, ppr, k-core
# and k-truss loops and of SCC's outer loop: AQE off. Their per-round
# exchanges are tiny or dominated by broadcast shapes AQE re-plans for no
# gain (r6, measured neutral-to-worse AQE-on: betweenness 1.03x, ppr
# 1.04x, k_core ~1.2x, k_truss ~1.0x). ``supersteps()`` applies no confs
# (see there), so SCC's two fixpoints run with the AQE-off its outer loop
# pins.
LOOP_CONFS = {"spark.sql.adaptive.enabled": "false"}


@contextmanager
def loop_conf(spark: SparkSession):
    """Pin LOOP_CONFS, restoring the caller's values on exit.

    Mutable runtime SQL confs only; safe on any session (the correctness
    driver's included). Restores on exceptions too, so a failed loop never
    leaks its conf into the caller's session.
    """
    old: dict[str, str | None] = {}
    for k, v in LOOP_CONFS.items():
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
        try:
            spark.conf.set(k, v)
        except Exception:
            old.pop(k, None)  # immutable/unknown conf: leave untouched
    try:
        yield
    finally:
        for k, v in old.items():
            try:
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)
            except Exception:
                pass


def release_local_checkpoint(df: DataFrame) -> None:
    """Release an iteration-state DataFrame the loop owns.

    ``DataFrame.unpersist()`` is a no-op for local checkpoints (they are
    cached at the RDD layer, not in the SQL cache manager); without this,
    an N-iteration loop pins N dead rank vectors in executor memory. The
    checkpointed plan is a LogicalRDD whose ``rdd`` is the cached one.

    OWNERSHIP GUARD: RDD-level release happens only when the DataFrame
    *is* the localCheckpoint product — its analyzed plan is a leaf
    LogicalRDD. Unwrapping derived (single-child) plans to their leaf is
    unsound: a state vector freshly derived from a caller-supplied
    localCheckpoint-ed input (e.g. connected components over the pair
    DataFrame that ``minhash_lsh_pairs`` returns) bottoms out at the
    *input's* LogicalRDD, and unpersisting that destroys blocks the loop
    does not own — the source is gone and every later recompute dies with
    "Checkpoint block not found". Anything else falls back to plain
    ``unpersist()`` (correct for the persist-chain iterates).
    """
    try:
        plan = df._jdf.queryExecution().analyzed()
        if (
            plan.children().size() == 0
            and plan.getClass().getSimpleName() == "LogicalRDD"
        ):
            plan.rdd().unpersist(False)
            return
    except Exception:
        pass
    try:
        df.unpersist()
    except Exception:
        pass


def _snapshot(plan: DataFrame) -> DataFrame:
    """Lazy ``localCheckpoint`` of ``plan`` whose leaf carries no size
    estimate.

    ``localCheckpoint`` copies the plan's estimated size onto its
    ``LogicalRDD`` leaf, and a join's estimate is the product of its
    inputs'. A superstep that reads the state k times therefore raises
    the estimate to the k-th power: its bit length grows k-fold per
    superstep (55,870 bits after 12 supersteps of the jumping CC on a
    1024-vertex chain), until Catalyst's BigInt stats arithmetic
    dominates planning. No conf turns the copy off, so the leaf is
    rebuilt on the same RDD, output, partitioning and ordering without
    the inherited statistics or constraints. Its estimate falls back to
    ``spark.sql.defaultSizeInBytes`` (Long.MaxValue by default, so the
    state side is never broadcast).
    """
    spark = plan.sparkSession
    leaf = plan.localCheckpoint(eager=False)._jdf.queryExecution().logical()
    none = spark._jvm.scala.Option.empty()
    fresh = leaf.copy(
        leaf.output(), leaf.rdd(), leaf.outputPartitioning(),
        leaf.outputOrdering(), leaf.isStreaming(), leaf.stream(),
        spark._jsparkSession, none, none,
    )
    return DataFrame(
        spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
            spark._jsparkSession, fresh
        ),
        spark,
    )


def _fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath, jvm


def _write_text(spark: SparkSession, path: str, text: str) -> None:
    fs, hpath, _ = _fs(spark, path)
    out = fs.create(hpath, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def _read_text(spark: SparkSession, path: str) -> str:
    fs, hpath, jvm = _fs(spark, path)
    stream = fs.open(hpath)
    try:
        return jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()


def partition_lineage(df: DataFrame) -> list[dict[str, int]]:
    """Rows per physical partition — the per-partition lineage record."""
    rows = (
        df.groupBy(F.spark_partition_id().alias("partition_id"))
        .agg(F.count("*").alias("rows"))
        .orderBy("partition_id")
        .collect()
    )
    return [{"partition_id": r["partition_id"], "rows": r["rows"]} for r in rows]


class CheckpointManager:
    """Per-iteration snapshot + manifest directory layout::

        {dir}/iter_00003/state.parquet/...
        {dir}/iter_00003/manifest.json      <- written last (commit marker)
    """

    def __init__(self, spark: SparkSession, directory: str | None):
        self.spark = spark
        self.dir = directory.rstrip("/") if directory else None

    def enabled(self) -> bool:
        return self.dir is not None

    def _iter_dir(self, iteration: int) -> str:
        return f"{self.dir}/iter_{iteration:05d}"

    def save(self, iteration: int, state: DataFrame, meta: dict[str, Any]) -> None:
        """Snapshot ``state`` to Parquet, then commit its manifest."""
        d = self._iter_dir(iteration)
        state.write.mode("overwrite").parquet(f"{d}/state.parquet")
        # the known schema skips Parquet's footer-inference job
        reloaded = self.spark.read.schema(state.schema).parquet(f"{d}/state.parquet")
        manifest = dict(meta)
        manifest["iteration"] = iteration
        manifest["partitions"] = partition_lineage(reloaded)
        manifest["rows"] = sum(p["rows"] for p in manifest["partitions"])
        manifest["complete"] = True
        _write_text(self.spark, f"{d}/{MANIFEST}", json.dumps(manifest, indent=1))

    def completed_iterations(self) -> list[int]:
        if not self.enabled():
            return []
        fs, hpath, _ = _fs(self.spark, self.dir)
        if not fs.exists(hpath):
            return []
        out = []
        for status in fs.listStatus(hpath):
            name = status.getPath().getName()
            if not name.startswith("iter_"):
                continue
            mpath = f"{self.dir}/{name}/{MANIFEST}"
            mfs, mh, _ = _fs(self.spark, mpath)
            if mfs.exists(mh):
                try:
                    if json.loads(_read_text(self.spark, mpath)).get("complete"):
                        out.append(int(name.split("_")[1]))
                except Exception:
                    continue
        return sorted(out)

    def latest(self) -> tuple[int, DataFrame, dict[str, Any]] | None:
        """Newest complete snapshot → (iteration, state, manifest) or None."""
        done = self.completed_iterations()
        if not done:
            return None
        it = done[-1]
        d = self._iter_dir(it)
        manifest = json.loads(_read_text(self.spark, f"{d}/{MANIFEST}"))
        return it, self.spark.read.parquet(f"{d}/state.parquet"), manifest

    def manifest(self, iteration: int) -> dict[str, Any]:
        return json.loads(
            _read_text(self.spark, f"{self._iter_dir(iteration)}/{MANIFEST}")
        )


@dataclass
class SuperstepRun:
    """What ``supersteps()`` leaves behind."""

    state: DataFrame  # the final state
    snapshot: DataFrame | None  # its cached snapshot; None if no superstep ran
    iteration: int
    stats: dict[str, Any]  # the final superstep's (or resumed manifest's)
    converged: bool
    records: list[dict[str, Any]] = field(default_factory=list)


def _fingerprint(edges: DataFrame) -> str:
    """Order-insensitive identity of the loop's cached edge table."""
    agg = edges.agg(
        F.count("*").alias("m"),
        F.expr("bit_xor(xxhash64(src, dst))").alias("h"),
    ).first()
    return f"|m={agg['m']}|h={agg['h']}"


def supersteps(
    spark: SparkSession,
    state: DataFrame,
    step: Callable[[DataFrame, dict[str, Any] | None], DataFrame],
    stats: dict[str, Column],
    stop: Callable[[dict[str, Any]], bool],
    *,
    max_steps: int,
    num_partitions: int,
    derive: Callable[[DataFrame, dict[str, Any]], DataFrame] | None = None,
    release: Iterable[DataFrame] = (),
    edges: DataFrame | None = None,
    algo: str = "",
    fingerprint: str = "",
    fingerprint_tail: Callable[[], str] | None = None,
    checkpoint_dir: str | None = None,
    checkpoint_interval: int = 1,
    resume: bool = True,
) -> SuperstepRun:
    """Run ``step`` to a fixpoint: at most ``max_steps`` supersteps, until
    ``stop(stats)`` holds.

    ``state`` is the fresh initial state, keyed by ``id``. ``step(state,
    last)`` builds one superstep's plan; ``last`` holds the previous
    superstep's statistics, and is None on the first superstep of a call.
    ``stats`` maps names to the aggregate expressions over the plan's
    output; they are computed by the superstep's single job. The next
    state is ``derive(snapshot, stats)`` (default: the snapshot projected
    to the state's columns); a ``derive`` may add statistics that need
    the derived state. ``release`` lists caches that only the initial
    state reads: they are unpersisted once it is materialized.

    Durable state needs ``edges``, the loop's cached edge table, and the
    ``algo`` / ``fingerprint`` names its manifests carry. The fingerprint
    is ``fingerprint`` + the edge table's row count and hash + the
    optional ``fingerprint_tail()``, so a directory written by another
    job (graph or parameters) is never resumed.

    No confs are applied. PageRank, CC, HITS and label propagation run
    under the session's AQE (SCC calls in under its ``loop_conf``),
    re-measured per loop on the checkpoint-state shape (r6,
    tools/ab_loop_aqe.py, min of 4, every rep faster with AQE on):
    pagerank 0.78x (3.84 -> 3.01 s), cc 0.84x (4.65 -> 3.92 s), HITS
    0.70x, labelprop 0.875x. The snapshots freeze their layout in the RDD,
    so AQE cannot break the state/edge co-partitioning (which made the
    old persist-chain shape 1.21x slower for pagerank and 1.96x for cc),
    and it coalesces the per-superstep gather exchanges.
    """
    ckpt = CheckpointManager(spark, checkpoint_dir)
    pending = list(release)

    def release_pending() -> None:
        while pending:
            pending.pop().unpersist()

    iteration, last, converged, resumed = 0, {}, False, None
    if ckpt.enabled():
        fingerprint += _fingerprint(edges)
        if fingerprint_tail is not None:
            fingerprint += fingerprint_tail()
        latest = ckpt.latest() if resume else None
        # a mismatched fingerprint is a stale dir from another job: start fresh
        if latest is not None and latest[2].get("fingerprint") == fingerprint:
            iteration, resumed, manifest = latest
            converged = bool(manifest.get("converged"))
            last = {k: manifest[k] for k in stats if k in manifest}
            if converged or iteration >= max_steps:
                release_pending()
                return SuperstepRun(resumed, None, iteration, last, converged)

    if resumed is not None:
        state = resumed
    state = state.repartition(num_partitions, "id").sortWithinPartitions("id")
    if resumed is None:
        # materialized by the first superstep's statistic job
        state = state.localCheckpoint(eager=False)
    else:
        # rare path: the read-back materializes eagerly
        state = state.persist()
        state.count()
        release_pending()
    columns = state.columns
    snapshot, prev, records = None, state, []
    while not converged and iteration < max_steps:
        iteration += 1
        t0 = time.monotonic()
        snapshot = _snapshot(step(state, last if records else None))
        last = snapshot.agg(*[c.alias(k) for k, c in stats.items()]).first().asDict()
        release_pending()
        state = derive(snapshot, last) if derive else snapshot.select(*columns)
        release_local_checkpoint(prev)
        prev = snapshot
        converged = bool(stop(last))
        record = {"iteration": iteration, **last, "converged": converged,
                  "total_s": round(time.monotonic() - t0, 4)}
        records.append(record)
        if ckpt.enabled() and (
            iteration % checkpoint_interval == 0 or converged or iteration >= max_steps
        ):
            ckpt.save(iteration, state, {
                "algo": algo, **last, "converged": converged,
                "fingerprint": fingerprint, "metrics": record,
            })
    release_pending()
    return SuperstepRun(state, snapshot, iteration, last, converged, records)
