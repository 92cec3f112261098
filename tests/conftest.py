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
def jpeg_decode_paths():
    """Both JPEG paths of ``codecs.decode_image_lazy`` as context managers:
    ``"native"`` decodes through the libjpeg shim, ``"numpy"`` forces the
    ``jpeg.decode_jpeg`` fallback.  Where the shim cannot be built, both
    run the fallback."""
    from red_seal_ocr_spark.functions import jpeg_native

    @contextlib.contextmanager
    def forced(lib):
        saved = jpeg_native._lib
        jpeg_native._lib = lib
        try:
            yield
        finally:
            jpeg_native._lib = saved

    native = jpeg_native._library() or False
    return {"native": lambda: forced(native), "numpy": lambda: forced(False)}
