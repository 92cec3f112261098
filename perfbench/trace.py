"""Outside-in tracing: timers wrapped around the public functions each
layer calls, installed only for the duration of a traced call.

- ``extract_driver``: ``read_table``, ``extract_documents``,
  ``list_run_files``, ``_drop_empty_files`` and ``commit_snapshot`` as
  ``operators.extract`` looks them up, and ``DataFrameWriter.parquet`` /
  ``DataFrameReader.parquet``.  The parquet wrappers also tag the Spark
  jobs they start (``<label>|data`` or ``<label>|lineage``) so the event
  log can attribute their stages.
- ``kernel_replay``: runs media bytes through ``process_image`` in this
  process with every stage function it looks up in ``functions.kernel``
  wrapped.
"""

from __future__ import annotations

import time
from collections import Counter, defaultdict
from contextlib import contextmanager, ExitStack


class Timer:
    """Accumulates wall seconds per name."""

    def __init__(self) -> None:
        self.s: dict[str, float] = defaultdict(float)

    def wrap(self, name, fn):
        def timed(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self.s[name] += time.perf_counter() - t0

        return timed


@contextmanager
def patched(target, attr: str, value):
    old = getattr(target, attr)
    setattr(target, attr, value)
    try:
        yield
    finally:
        setattr(target, attr, old)


def job_tag(spark, tag: str | None) -> None:
    spark.sparkContext.setLocalProperty("spark.job.description", tag)


# ---------------------------------------------------------------------------
# operators.extract, driver side
# ---------------------------------------------------------------------------


def _part(path: str) -> str:
    return "lineage" if "/_lineage/" in str(path) else "data"


@contextmanager
def extract_driver(spark, label: str, timer: Timer, counts: Counter):
    """Time ``run_extract``'s driver-side steps; tag its Spark jobs.

    Steps: ``resume_read`` (``read_table``), ``plan``
    (``extract_documents``, which only builds the plan), ``data_write``
    (the data ``DataFrameWriter.parquet``, listing the written files and
    dropping empty ones), ``lineage_write`` (reading the written files
    back and the lineage write) and ``commit`` (``commit_snapshot``).
    """
    from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter

    from red_seal_ocr_spark.operators import extract

    write = DataFrameWriter.parquet
    read = DataFrameReader.parquet
    listing = extract.list_run_files
    commit = extract.commit_snapshot
    resume = extract.read_table
    in_resume = []

    def parquet_write(self, path, *args, **kwargs):
        part = _part(path)
        job_tag(spark, f"{label}|{part}")
        t0 = time.perf_counter()
        try:
            return write(self, path, *args, **kwargs)
        finally:
            timer.s[f"{part}_write"] += time.perf_counter() - t0
            job_tag(spark, f"{label}|driver")

    def parquet_read(self, *paths, **kwargs):
        # outside read_table, run_extract reads only the files it has just
        # written, to aggregate their lineage rows
        if in_resume:
            return read(self, *paths, **kwargs)
        job_tag(spark, f"{label}|lineage")
        t0 = time.perf_counter()
        try:
            return read(self, *paths, **kwargs)
        finally:
            timer.s["lineage_write"] += time.perf_counter() - t0
            job_tag(spark, f"{label}|driver")

    def read_table(*args, **kwargs):
        in_resume.append(True)
        try:
            return resume(*args, **kwargs)
        finally:
            in_resume.pop()

    def list_run_files(run_dir):
        t0 = time.perf_counter()
        try:
            return listing(run_dir)
        finally:
            timer.s[f"{_part(run_dir)}_write"] += time.perf_counter() - t0

    def commit_snapshot(table_dir, data_files, *args, **kwargs):
        counts["commits"] += 1
        counts["data_files"] += len(data_files)
        return timer.wrap("commit", commit)(table_dir, data_files, *args, **kwargs)

    job_tag(spark, f"{label}|driver")
    with ExitStack() as st:
        st.enter_context(patched(DataFrameWriter, "parquet", parquet_write))
        st.enter_context(patched(DataFrameReader, "parquet", parquet_read))
        st.enter_context(patched(extract, "list_run_files", list_run_files))
        st.enter_context(patched(extract, "commit_snapshot", commit_snapshot))
        st.enter_context(patched(extract, "read_table",
                                 timer.wrap("resume_read", read_table)))
        st.enter_context(patched(extract, "extract_documents",
                                 timer.wrap("plan", extract.extract_documents)))
        st.enter_context(patched(extract, "_drop_empty_files",
                                 timer.wrap("data_write", extract._drop_empty_files)))
        try:
            yield
        finally:
            job_tag(spark, None)


# ---------------------------------------------------------------------------
# functions: single-process kernel replay
# ---------------------------------------------------------------------------

# kernel stage -> the names process_image looks up for it
KERNEL_STAGES = {
    "red_mask": ("rgb_red_mask",),
    "morph": ("morph_open", "morph_close"),
    "components": ("filled_components", "paint_runs"),
    "enhance": ("enhance_image", "enhance_red_pass1", "enhance_red_pass2"),
    "ocr": ("decode_seal_with_confidence",),
}


class _TimedImage:
    """Decoded-image proxy that books pixel materialization as decode."""

    __slots__ = ("_img", "_timer", "h", "w")

    def __init__(self, img, timer: Timer) -> None:
        self._img = img
        self._timer = timer
        self.h, self.w = img.h, img.w

    def full(self):
        return self._timer.wrap("decode", self._img.full)()

    def crop(self, *args):
        return self._timer.wrap("decode", self._img.crop)(*args)

    def view(self):
        return self._timer.wrap("decode", self._img.view)()


def kernel_replay(items, fmt_of) -> dict:
    """Replay ``(media_ref, bytes)`` items through ``process_image``.

    Returns per-image records: ``fmt, ms, status, megapixels,
    components`` and ``stages`` (ms per kernel stage, ``decode``
    included).
    """
    from red_seal_ocr_spark.functions import kernel

    records = []
    with ExitStack() as st:
        timer = Timer()
        decode = kernel.decode_image_lazy

        def decode_image_lazy(data, max_pixels):
            return _TimedImage(timer.wrap("decode", decode)(data, max_pixels), timer)

        st.enter_context(patched(kernel, "decode_image_lazy", decode_image_lazy))
        for stage, names in KERNEL_STAGES.items():
            for name in names:
                st.enter_context(patched(kernel, name, timer.wrap(stage, getattr(kernel, name))))
        for ref, content in items:
            timer.s.clear()
            t0 = time.perf_counter()
            r = kernel.process_image(content)
            ms = (time.perf_counter() - t0) * 1000.0
            stages = {k: v * 1000.0 for k, v in timer.s.items()}
            records.append({
                "fmt": fmt_of(ref), "ms": ms, "status": r.status,
                "components": r.n_components, "stages": stages,
            })
    return records

