from __future__ import annotations

import sys
from pathlib import Path

import pytest
from pyspark.sql import SparkSession

# appended, not prepended: perfbench/ must not shadow the repo's own
# top-level ``tests`` package when both suites run in one pytest session
sys.path.append(str(Path(__file__).resolve().parent.parent))

import sandbox as sb  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    """A session for one test module.

    An active session (another suite's, in the same pytest run) is reused
    and left running. Otherwise the benchmark's own sandboxed session is
    started and, after the module, stopped with its environment restored,
    so a suite collected after this one builds its session from its own
    settings.
    """
    active = SparkSession.getActiveSession()
    if active is not None:
        yield active
        return
    box = sb.Sandbox("tests")
    try:
        spark = sb.import_engine().get_spark(
            app_name="perfbench-tests", master="local[2]", shuffle_partitions=2,
            extra_conf=box.conf(),
        )
        try:
            yield spark
        finally:
            sb.stop_session(spark)
    finally:
        box.remove()
