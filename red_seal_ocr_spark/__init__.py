"""red_seal_ocr_spark — PySpark-native red-seal extraction engine.

A brand-new engine (NOT a port) with the data-processing capabilities of
the reference ``handsomestWei/red-seal-ocr`` (/root/reference): interleaved
text+media documents are read from an Iceberg-style snapshot table, each
media span's image bytes are decoded and pushed through a fully vectorized
numpy kernel (HSV dual-band red masking, morphological open/close,
connected-component seal localization, normalized crop, template OCR)
inside pandas/Arrow UDFs, and the extracted text spans are spliced back
into the original span order.  See SURVEY.md for the structural analysis
that maps every reference operator to its Spark-first implementation.
"""

__version__ = "0.1.0"

# Every engine UDF imports this package in its Python worker, so the
# worker's per-task importlib.invalidate_caches() stops re-reading Spark's
# zips from the next task on (worker_imports module docstring).
from .worker_imports import install as _install_lazy_zip_invalidation

_install_lazy_zip_invalidation()
