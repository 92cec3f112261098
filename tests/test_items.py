"""The one per-item batch loop (``operators/items.py``): its contract on
fake Arrow batches, the one-failure-row rule on real Spark stages, and a
source check that no other module hand-writes a batch loop."""

import ast
from pathlib import Path

import pandas as pd
import pytest

from red_seal_ocr_spark.operators.items import item_mapper, schema_columns

PKG = Path(__file__).resolve().parent.parent / "red_seal_ocr_spark"


def test_schema_columns_skips_commas_inside_types():
    assert schema_columns(
        "doc_id string, spans array<struct<kind:string,text:string>>, "
        "price decimal(10,2),  m map<string,int>"
    ) == ["doc_id", "spans", "price", "m"]


def test_item_mapper_contract_on_fake_batches():
    """Pass-through keys, 0/1/n rows per item, one schema-wide failure
    row for a typed error, and an empty batch gives an empty frame in
    schema order."""

    def fn(n):
        if n < 0:
            raise ValueError("bad item")
        return [(True, n, i) for i in range(n)]

    run = item_mapper(fn, "ref string, tag int, ok boolean, n int, i int",
                      keys=("ref", "tag"), values=("n",), errors=(ValueError,))
    batches = [
        pd.DataFrame({"ref": ["a", "b", "c", "d"], "tag": [10, 11, 12, 13],
                      "n": [0, 1, 3, -1]}),
        pd.DataFrame({"ref": [], "tag": [], "n": []}),
    ]
    full, empty = list(run(iter(batches)))
    assert list(full.columns) == ["ref", "tag", "ok", "n", "i"]
    rows = [tuple(None if pd.isna(v) else v for v in r)
            for r in full.itertuples(index=False)]
    assert rows == [
        ("b", 11, True, 1, 0),
        ("c", 12, True, 3, 0), ("c", 12, True, 3, 1), ("c", 12, True, 3, 2),
        ("d", 13, False, None, None),
    ]
    assert list(empty.columns) == ["ref", "tag", "ok", "n", "i"]
    assert len(empty) == 0


def test_item_mapper_lets_untyped_errors_fail_the_task():
    def fn(_):
        raise KeyError("not a stage failure")

    run = item_mapper(fn, "media_ref string, ok boolean",
                      errors=(ValueError,))
    with pytest.raises(KeyError):
        list(run(iter([pd.DataFrame({"media_ref": ["m"], "content": [b"x"]})])))


def test_item_mapper_needs_ok_after_keys_for_typed_errors():
    with pytest.raises(ValueError, match="ok"):
        item_mapper(lambda c: [], "media_ref string, n int, ok boolean",
                    errors=(ValueError,))


def test_no_batch_loop_outside_the_items_module():
    """Every ``mapInPandas`` stage maps items through ``operators.items``:
    no other function in the package takes ``batches`` first."""
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        if path == PKG / "operators" / "items.py":
            continue
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
                args = node.args.posonlyargs + node.args.args
                if args and args[0].arg == "batches":
                    offenders.append(f"{path.relative_to(PKG)}:{node.lineno}")
    assert offenders == []


def test_truncated_pdf_gives_one_failure_row(spark):
    """A PDF cut inside its last page's content stream: one ok=false row,
    never ok=true rows for the pages before the cut."""
    from red_seal_ocr_spark.operators.multimodal import encode_pdf, pdf_pages

    pdf = encode_pdf(["page 0", "page 1", "page 2"])
    end = pdf.rindex(b"endstream")  # the last object is page 2's contents
    cut = pdf[: (pdf.rindex(b"stream", 0, end) + end) // 2]
    media = spark.createDataFrame(
        [("good", pdf), ("cut", cut)], "media_ref string, content binary",
    )
    rows = sorted(pdf_pages(media).collect(),
                  key=lambda r: (r.media_ref, r.page_idx or 0))
    assert [(r.media_ref, r.ok, r.page_idx) for r in rows] == [
        ("cut", False, None),
        ("good", True, 0), ("good", True, 1), ("good", True, 2),
    ]


def test_truncated_video_gives_one_failure_row(spark):
    """An AVI cut inside its last frame: one ok=false row, never ok=true
    rows for the frames before the cut."""
    import struct

    import numpy as np

    from red_seal_ocr_spark.operators.multimodal import (
        encode_avi_mjpeg,
        sample_video_frames,
    )

    rng = np.random.default_rng(7)
    avi = encode_avi_mjpeg(
        [rng.integers(0, 256, (16, 16, 3), dtype=np.uint8) for _ in range(6)])
    last = avi.rindex(b"00dc", 0, avi.index(b"idx1"))  # the last movi chunk
    (size,) = struct.unpack("<I", avi[last + 4 : last + 8])
    media = spark.createDataFrame(
        [("good", avi), ("cut", avi[: last + 8 + size // 2])],
        "media_ref string, content binary",
    )
    rows = sorted(sample_video_frames(media, every_nth=1).collect(),
                  key=lambda r: (r.media_ref, r.frame_idx or 0))
    assert [(r.media_ref, r.ok, r.frame_idx) for r in rows] == [
        ("cut", False, None),
        *[("good", True, i) for i in range(6)],
    ]
