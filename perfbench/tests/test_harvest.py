from __future__ import annotations

import json
from pathlib import Path

from pyspark.sql import functions as F

import run
import workloads
from harvest import Tracer


def _group_by(spark):
    return (spark.range(10_000, numPartitions=4)
            .groupBy((F.col("id") % 7).alias("k")).count().collect())


def test_one_group_by_span_counts_its_job_and_shuffle(spark):
    adaptive = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        tracer = Tracer(spark, enabled=True)
        spark.range(5).count()  # before any span: attributed to none
        with tracer.span("one_group_by"):
            assert len(_group_by(spark)) == 7
        _group_by(spark)  # after the span: attributed to none
        tracer.harvest()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", adaptive)
    stats = tracer.spans[0].stats
    assert stats["jobs"] == 1
    assert stats["stages"] == 2  # map side + reduce side of the one exchange
    assert stats["shuffle_write_bytes"] > 0
    assert stats["shuffle_read_bytes"] == stats["shuffle_write_bytes"]
    assert stats["failed_tasks"] == 0


def test_adaptive_jobs_match_the_status_tracker(spark):
    tracer = Tracer(spark, enabled=True)
    with tracer.span("a"):
        _group_by(spark)
    with tracer.span("b"):
        _group_by(spark)
    tracer.harvest()
    status = spark.sparkContext.statusTracker()
    for span in tracer.spans:
        assert span.stats["jobs"] == len(status.getJobIdsForGroup(span.group))
        assert span.stats["shuffle_read_bytes"] > 0


def test_benchmark_json_lists_the_workloads_and_metrics_the_run_has():
    spec = json.loads(
        (Path(run.__file__).resolve().parent.parent / "BENCHMARK.json").read_text())
    assert {w["name"]: w["why"] for w in spec["workloads"]} == {
        name: cls.why for name, cls in workloads.WORKLOADS.items()}
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units()
