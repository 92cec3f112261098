"""Shared fixtures: a local SparkSession configured like the target job."""

from __future__ import annotations

import contextlib
import os

import pytest

os.environ.setdefault("OMP_NUM_THREADS", "1")  # X7: 1 BLAS thread per worker


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[4]")
        .appName("red-seal-ocr-spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "64")
        .config("spark.python.worker.reuse", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def native_paths():
    """Both paths of every ``functions/native.py`` entry point (JPEG
    decode, red mask, PNG unfilter) as context managers: ``"native"``
    runs the C shim, ``"numpy"`` forces the numpy fallbacks.  Where the
    shim cannot be built, both run the fallbacks."""
    from red_seal_ocr_spark.functions import native

    @contextlib.contextmanager
    def forced(lib):
        saved = native._lib
        native._lib = lib
        try:
            yield
        finally:
            native._lib = saved

    lib = native._library() or False
    return {"native": lambda: forced(lib), "numpy": lambda: forced(False)}
