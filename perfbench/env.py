"""Checkout layout, process environment and Spark session set-up.

Everything the benchmark writes lives under ``.bench_build/perfbench`` in
the checkout: the input cache (kept between runs), and one working
directory per run (Spark local dirs, event logs, output tables), which is
removed when the run ends.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import uuid
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build" / "perfbench"
CACHE = BUILD / "cache"
PROGRAM = "red_seal_ocr_spark"


class ProgramMissing(RuntimeError):
    """The checkout does not hold the engine the benchmark drives."""


def cores() -> int:
    """Cores this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def import_program() -> None:
    """Import the engine from the checkout, never from anywhere else."""
    pkg = ROOT / PROGRAM / "__init__.py"
    if not pkg.is_file():
        raise ProgramMissing(f"no {PROGRAM} package under {ROOT}")
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))
    import red_seal_ocr_spark

    if Path(red_seal_ocr_spark.__file__).resolve() != pkg.resolve():
        raise ProgramMissing(f"{PROGRAM} imported from {red_seal_ocr_spark.__file__}")


class RunDir:
    """Per-run working directory; the process environment points Spark,
    the JVM and Python temp files into it."""

    def __init__(self) -> None:
        self.path = BUILD / f"run-{os.getpid()}-{uuid.uuid4().hex[:8]}"
        self.tmp = self.path / "tmp"
        self.local = self.path / "spark-local"
        for d in (self.tmp, self.local):
            d.mkdir(parents=True, exist_ok=True)
        os.environ["OMP_NUM_THREADS"] = "1"
        os.environ["SPARK_LOCAL_DIRS"] = str(self.local)
        os.environ["SPARK_GRAFT_CPUS"] = str(cores())
        os.environ["TMPDIR"] = str(self.tmp)
        # every JVM Spark starts (launcher and driver) keeps its temp
        # files in the run directory and writes no /tmp/hsperfdata
        os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={self.tmp}"
        os.environ["PYSPARK_PYTHON"] = sys.executable
        os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
        self._n = 0

    def new(self, name: str) -> str:
        """A fresh, not yet existing path inside the run directory."""
        self._n += 1
        return str(self.path / f"{name}-{self._n:03d}")

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


class Stopwatch:
    """Wall time of a block::

        with Stopwatch() as sw:
            ...
        sw.wall_s
    """

    def __enter__(self) -> "Stopwatch":
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.wall_s = time.perf_counter() - self._t0


def spark_conf(run: RunDir, event_log: str | None = None) -> dict:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(run.path / "warehouse"),
    }
    if event_log:
        Path(event_log).mkdir(parents=True, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": Path(event_log).as_uri(),
            # Spark 4 compresses with zstd by default, which the parser
            # would need the optional zstandard module to read
            "spark.eventLog.compress": "false",
        })
    return conf


def _identity(batches):
    yield from batches


def first_job(spark) -> None:
    """The first Python-worker job: starts the worker daemon and workers."""
    spark.range(8, numPartitions=4).mapInPandas(_identity, "id long").count()


def start_session(run: RunDir, master: str, event_log: str | None = None):
    """``get_spark`` plus the first Python-worker job.

    Returns ``(spark, start, first_job)``, the two as ``Stopwatch``es.
    """
    from red_seal_ocr_spark.session import get_spark

    with Stopwatch() as start:
        spark = get_spark("perfbench", master=master,
                          extra=spark_conf(run, event_log))
    spark.sparkContext.setLogLevel("ERROR")
    with Stopwatch() as first:
        first_job(spark)
    return spark, start, first
