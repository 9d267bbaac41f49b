"""Spans around layer calls, and the Spark status-store harvester behind them.

A span tags every job it runs with its own job group (``setJobGroup``),
so the status store can attribute jobs, stages and task metrics to it
without any change to the engine. Harvesting happens once, after the
timed work: the benchmark session raises ``spark.ui.retainedJobs/Stages``
far above what a run produces, so nothing is evicted before it is read,
and the harvest's own cost stays out of every span.

A stage is counted once, in the first span whose jobs list it: a later job
that reuses a shuffle lists the stage again, as skipped.
"""

from __future__ import annotations

import json
import threading
import time
from dataclasses import dataclass, field

MB = 1 << 20
UNTRACED = "perfbench-untraced"
STORAGE_SAMPLE_S = 0.5  # StorageMonitor's sampling period
# what harvest_groups sums per job group
STATS = ("jobs", "stages", "task_ms", "cpu_ms", "gc_ms", "shuffle_read_bytes",
         "shuffle_write_bytes", "spill_bytes", "failed_tasks")


def storage_used_bytes(sc) -> int:
    """Block-manager storage memory in use, summed over executors.

    Read from the block manager master, which is updated as blocks are
    stored and dropped (unlike executor peak metrics, which refresh only
    on heartbeats).
    """
    status = sc._jsc.sc().getExecutorMemoryStatus()
    it = status.values().iterator()
    used = 0
    while it.hasNext():
        pair = it.next()
        used += pair._1() - pair._2()
    return used


class StorageMonitor:
    """Samples storage memory in a background thread; keeps the peak."""

    def __init__(self, sc):
        self.sc = sc
        self.peak = storage_used_bytes(sc)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.wait(STORAGE_SAMPLE_S):
            self.peak = max(self.peak, storage_used_bytes(self.sc))

    def __enter__(self) -> "StorageMonitor":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, storage_used_bytes(self.sc))


@dataclass
class Span:
    name: str
    group: str
    start: float = 0.0
    end: float = 0.0
    retained_bytes: int = 0
    stats: dict[str, float] = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans; with ``enabled=False`` it only keeps their times."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []

    def span(self, name: str) -> "_SpanContext":
        return _SpanContext(self, name)

    def untraced(self) -> None:
        """Tag the jobs that follow with no span's group."""
        if self.enabled:
            self.spark.sparkContext.setJobGroup(UNTRACED, "between spans")

    def harvest(self) -> None:
        """Fill ``span.stats`` for every span from the status store."""
        by_group = harvest_groups(self.spark, [s.group for s in self.spans])
        for s in self.spans:
            s.stats = by_group[s.group]


class _SpanContext:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer = tracer
        self.span = Span(name, f"perfbench-{len(tracer.spans):04d}-{name}")

    def __enter__(self) -> Span:
        sc = self.tracer.spark.sparkContext
        if self.tracer.enabled:
            sc.setJobGroup(self.span.group, self.span.name)
        self.span.start = time.perf_counter()
        return self.span

    def __exit__(self, *exc) -> None:
        self.span.end = time.perf_counter()
        if self.tracer.enabled:
            self.tracer.untraced()
            self.span.retained_bytes = storage_used_bytes(self.tracer.spark.sparkContext)
        self.tracer.spans.append(self.span)


def _status_json(spark, which: str) -> list[dict]:
    """``jobsList`` / ``stageList`` of the status store, as JSON records."""
    sc = spark.sparkContext
    jvm = sc._jvm
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty(60_000)  # the store trails the scheduler
    store = jsc.statusStore()
    if which == "jobs":
        rows = store.jobsList(jvm.java.util.ArrayList())
    else:
        rows = store.stageList(
            jvm.java.util.ArrayList(), False, False,
            sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
        )
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
    mapper.registerModule(getattr(scala_module, "MODULE$"))
    return json.loads(mapper.writeValueAsString(rows))


def harvest_groups(spark, groups: list[str]) -> dict[str, dict[str, float]]:
    """Per job group: jobs, stages run, and their summed task metrics."""
    jobs = sorted(_status_json(spark, "jobs"), key=lambda j: j["jobId"])
    stages: dict[int, list[dict]] = {}
    for st in _status_json(spark, "stages"):
        stages.setdefault(st["stageId"], []).append(st)
    wanted = set(groups)
    out = {g: dict.fromkeys(STATS, 0) for g in groups}
    counted: set[int] = set()
    for job in jobs:
        group = job.get("jobGroup")
        if group not in wanted:
            counted.update(job["stageIds"])
            continue
        acc = out[group]
        acc["jobs"] += 1
        for sid in job["stageIds"]:
            if sid in counted:
                continue
            counted.add(sid)
            for attempt in stages.get(sid, ()):
                if attempt["status"] == "SKIPPED":
                    continue
                acc["stages"] += 1
                acc["task_ms"] += attempt["executorRunTime"]
                acc["cpu_ms"] += attempt["executorCpuTime"] / 1e6
                acc["gc_ms"] += attempt["jvmGcTime"]
                acc["shuffle_read_bytes"] += attempt["shuffleReadBytes"]
                acc["shuffle_write_bytes"] += attempt["shuffleWriteBytes"]
                acc["spill_bytes"] += attempt["diskBytesSpilled"]
                acc["failed_tasks"] += attempt["numFailedTasks"]
    return out
