"""Host sizing and filesystem confinement for benchmark sessions.

Every file Spark, the JVM or Python writes during a run lands under one
scratch directory inside the checkout, which the run removes afterwards:
the block-manager/shuffle dirs (``SPARK_LOCAL_DIRS`` wins over the engine's
``/dev/shm`` default in local mode), the RDD checkpoint dir (set through
conf so the engine's ``setCheckpointDir`` fallback never fires), the JVM
and Python temp dirs, and the durable loop checkpoints. The JVMs keep no
``hsperfdata`` files (``-XX:-UsePerfData``).

Sizing: ``local[<usable cores>]`` with one shuffle partition per core, and
a 3g driver heap, well below a 15 GB host's RAM (the engine's default
``16g`` is above it).
"""

from __future__ import annotations

import contextlib
import os
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
DRIVER_MEM = "3g"


def usable_cores() -> int:
    return len(os.sched_getaffinity(0))


def import_engine():
    """Import the engine from this checkout; exit 2 if it is not there."""
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))
    try:
        import distributed_pagerank_spark as dps
    except ImportError as exc:
        sys.stderr.write(f"engine package not importable from {ROOT}: {exc}\n")
        raise SystemExit(2)
    if Path(dps.__file__).resolve().parent.parent != ROOT:
        sys.stderr.write(f"engine imported from {dps.__file__}, not {ROOT}\n")
        raise SystemExit(2)
    return dps


class Sandbox:
    """A per-process scratch tree under ``<checkout>/.perfbench_work``."""

    def __init__(self, tag: str):
        self.dir = ROOT / ".perfbench_work" / f"{tag}-{os.getpid()}"
        for sub in ("local", "tmp", "rdd-ckpt", "data"):
            (self.dir / sub).mkdir(parents=True, exist_ok=True)
        self._n = 0
        env = {
            # read by spark-submit (local dirs) and by tempfile / the JVM
            "SPARK_LOCAL_DIRS": str(self.dir / "local"),
            "TMPDIR": str(self.dir / "tmp"),
            # no /tmp/hsperfdata_* files from the spark-submit launcher JVM
            "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "PYSPARK_GATEWAY_PORT": None,
        }
        self._saved_env = {k: os.environ.get(k) for k in env}
        _set_env(env)
        # tempfile caches its directory on first use; make it re-read TMPDIR
        self._saved_tempdir, tempfile.tempdir = tempfile.tempdir, None

    def fresh(self, name: str) -> str:
        """A new, not yet existing path under the data dir."""
        self._n += 1
        return str(self.dir / "data" / f"{self._n:04d}-{name}")

    def conf(self) -> dict[str, str]:
        tmp = self.dir / "tmp"
        return {
            "spark.local.dir": str(self.dir / "local"),
            "spark.checkpoint.dir": str(self.dir / "rdd-ckpt"),
            "spark.sql.warehouse.dir": str(self.dir / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            # the status store keeps 1000 jobs/stages by default; one
            # traced PageRank alone can run hundreds
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        }

    def remove(self) -> None:
        """Delete the scratch tree and restore the environment it changed."""
        shutil.rmtree(self.dir, ignore_errors=True)
        with contextlib.suppress(OSError):  # another run may still use it
            self.dir.parent.rmdir()
        _set_env(self._saved_env)
        tempfile.tempdir = self._saved_tempdir


def _set_env(env: dict[str, str | None]) -> None:
    for key, value in env.items():
        if value is None:
            os.environ.pop(key, None)
        else:
            os.environ[key] = value


def start_session(dps, sandbox: Sandbox, job_group: str | None = None):
    """``get_spark`` at ``local[cores]`` plus a first trivial job, run in
    ``job_group`` when one is given."""
    cores = usable_cores()
    spark = dps.get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf=sandbox.conf(),
    )
    if job_group is not None:
        spark.sparkContext.setJobGroup(job_group, "session")
    spark.range(1).count()
    return spark


def stop_session(spark) -> None:
    """Stop the session, then close the gateway JVM and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None

