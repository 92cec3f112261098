"""Distributed synthetic-table generation (documents + media DataFrames).

Because datagen is a pure function of (seed, key), both tables materialize
shuffle-free from ``spark.range(n)``: every executor renders its own
partition of documents / media independently — this is how the engine
synthesizes arbitrarily large interleaved tables (the 10^12-document-scale
story) without a driver-side loop or any data movement.
"""

from __future__ import annotations

from ..config import DEFAULT_CONFIG
from ..operators.items import map_items
from .datagen import doc_media_refs, gen_document, media_is_dangling, render_media

DOCUMENTS_SCHEMA = (
    "doc_id string, "
    "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"
)
MEDIA_SCHEMA = "media_ref string, content binary"


def documents_df(spark, n_docs: int, seed: int = 42, partitions: int | None = None):
    """Interleaved documents table (exactly input_hint) from spark.range."""
    if partitions is None:
        # adaptive to the INPUT size: a gate-scale table (24 docs) gets
        # 24 single-doc partitions instead of 4x-cores mostly-EMPTY ones
        # (each empty mapInPandas partition still pays a Python worker
        # round-trip); large n_docs keeps the 4x-cores scan parallelism
        partitions = max(8, min(n_docs, spark.sparkContext.defaultParallelism * 4))

    def document(i):
        d = gen_document(int(i), seed)
        return [(d["doc_id"], d["spans"])]

    return map_items(spark.range(n_docs, numPartitions=partitions), document,
                     DOCUMENTS_SCHEMA, keys=(), values=("id",))


def media_df(spark, n_docs: int, seed: int = 42, partitions: int | None = None,
             cfg=DEFAULT_CONFIG, fmt: str | None = None):
    """Media side table for the same n_docs, rendered where the doc lives.

    Regenerates each document's media refs locally (pure function), so no
    join/shuffle against the documents table is ever needed; dangling refs
    (~2%) are skipped here exactly like FIXTURES.md specifies.
    """
    if partitions is None:
        # adaptive to the INPUT size: a gate-scale table (24 docs) gets
        # 24 single-doc partitions instead of 4x-cores mostly-EMPTY ones
        # (each empty mapInPandas partition still pays a Python worker
        # round-trip); large n_docs keeps the 4x-cores scan parallelism
        partitions = max(8, min(n_docs, spark.sparkContext.defaultParallelism * 4))

    def media(i):
        return [(ref, render_media(ref, seed, cfg, fmt))
                for ref in doc_media_refs(gen_document(int(i), seed))
                if not media_is_dangling(ref, seed)]

    return map_items(spark.range(n_docs, numPartitions=partitions), media,
                     MEDIA_SCHEMA, keys=(), values=("id",))
