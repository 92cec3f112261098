"""The media-span extraction kernel (reference ``_recognize_core``).

One pure function, :func:`process_image`, reproduces the reference's fixed
per-record operator chain (``src/ocr_engine.py:284-450``; SURVEY.md 2.3):

    quality gate (P1) -> [enhance F1 if low quality] -> HSV (F2)
    -> dual-band red mask (F3) -> morph open+close (F4)
    -> component localization + area filter (F5) -> empty-mask fallback (F6)
    -> whiteout non-red (F7) -> red enhancement passes (F8a/F8b)
    -> downscale cap (F9) -> per-component normalized crop + template OCR
       (F10/F11) -> bbox rescale (F12) -> text concat (F13)

The reference's input-stats probe (F15) is not reproduced: its mean/std
feed only a log warning there, and nothing here would read them.

The Spark side calls it once per image inside each Arrow batch: the
per-medium function of ``operators.extract._kernel_udf``, run by the
engine's one ``mapInPandas`` batch loop (``operators.items``).  Images
are variable-size, so cross-image vectorization is impossible; all
per-image math is vectorized numpy or one C pass of the native shim
(``native.py``: the red mask) — no per-pixel Python, satisfying the
no-per-row-Python invariant.

Fault isolation follows the reference (``main.py:132-137``): a bad image
never kills the batch — the north rule maps it to "media span passes
through unchanged + failure counted in lineage".
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from ..config import DEFAULT_CONFIG, EngineConfig
from .imageops import (
    enhance_image,
    enhance_red_pass1,
    enhance_red_pass2,
    filled_components,
    morph_close,
    morph_open,
    paint_runs,
    resize_area,
    rgb_red_mask,
)
from .codecs import ImageDecodeError, ImageTooLarge, decode_image_lazy
from .ocr import decode_seal_with_confidence

OK = 0
DECODE_ERROR = 1
TOO_LARGE = 2  # per-item pixel budget breached (reference reinit-on-hang analog)


@dataclass
class ImageResult:
    text: str | None  # None on failure
    status: int
    n_components: int = 0
    red_pixels: int = 0
    confidence: float = 1.0  # worst per-glyph template agreement (F14 metric)
    # per-kept-component bounding boxes (y0, x0, y1, x1) in full-frame
    # coordinates, deterministic (y0, x0) component order — the F12
    # completion (reference reports per-item bboxes,
    # src/ocr_engine.py:705-724).  Metric payload only: NEVER part of the
    # span-equality tuple; surfaced as an optional column when
    # cfg.emit_bboxes is set.
    bboxes: tuple = ()


def is_low_quality(n_bytes: int, h: int, w: int, cfg: EngineConfig) -> bool:
    """Quality gate (reference ``src/preprocess.py:94-130``): small file OR
    low resolution."""
    return n_bytes < cfg.size_threshold_kb * 1024 or max(h, w) < cfg.resolution_threshold


def _area_ratio(h: int, w: int, cfg: EngineConfig) -> float:
    m = max(h, w)
    if m < cfg.area_dim_small:
        return cfg.area_ratio_small
    if m < cfg.area_dim_mid:
        return cfg.area_ratio_mid
    return cfg.area_ratio_large


def process_image(content: bytes | None, cfg: EngineConfig = DEFAULT_CONFIG) -> ImageResult:
    """Run the full extraction chain on one encoded image."""
    if not isinstance(content, (bytes, bytearray, memoryview)) or len(content) == 0:
        return ImageResult(None, DECODE_ERROR)
    try:
        # format-sniffing dispatch: png/jpeg/bmp, matching the reference's
        # accepted upload formats (main.py:218-226).  cfg.codec injects a
        # replacement decoder under the same error contract — the S2 twin
        # of the F10 decoder swap.
        src = (cfg.codec or decode_image_lazy)(bytes(content), cfg.max_pixels)
    except ImageTooLarge:
        # deterministic per-item cost budget (header check, O(1)): the
        # span passes through unchanged and lineage counts it, exactly
        # like any other failure — one pathological image can never stall
        # a task (reference ocr_pool.py:56-98 reinit-on-hang semantics,
        # mapped to an a-priori budget because the kernel is O(pixels))
        return ImageResult(None, TOO_LARGE)
    except ImageDecodeError:
        return ImageResult(None, DECODE_ERROR)
    h, w = src.h, src.w
    img = src.full()

    # F1: enhancement only for low-quality inputs (full-frame transform;
    # default gate off)
    if is_low_quality(len(content), h, w, cfg):
        img = enhance_image(img, cfg)

    # F2/F3: fused HSV + dual-band red mask over the frame: one C pass
    # into the HxW bool mask (the numpy path where the shim cannot be
    # built)
    mask0 = rgb_red_mask(img, cfg.hue_band1, cfg.hue_band2, cfg.sat_min, cfg.val_min)

    # F4/F5 operate on the red-pixel extent only, padded by the morph
    # reach (2) so open/close border behavior matches the full-frame
    # computation; results shift back to global coordinates below.
    rows_any = np.flatnonzero(mask0.any(axis=1))
    if rows_any.size == 0:
        return ImageResult("", OK)
    ry0 = max(0, int(rows_any[0]) - 2)
    ry1 = min(h, int(rows_any[-1]) + 3)
    cols_any = np.flatnonzero(mask0[ry0:ry1].any(axis=0))
    rx0 = max(0, int(cols_any[0]) - 2)
    rx1 = min(w, int(cols_any[-1]) + 3)

    # F4: morphological open + close (north-star denoising)
    m = morph_close(morph_open(mask0[ry0:ry1, rx0:rx1], cfg.morph_iterations),
                    cfg.morph_iterations)

    # F5: component localization + area filter (filled areas, RETR_EXTERNAL)
    run_sets, stats = filled_components(m)
    # shift window-local runs/stats back to global coordinates
    run_sets = [
        [(rr + ry0, ca + rx0, cb + rx0) for rr, ca, cb in rs] for rs in run_sets
    ]
    for st in stats:
        st["y0"] += ry0
        st["y1"] += ry0
        st["x0"] += rx0
        st["x1"] += rx0
    min_area = _area_ratio(h, w, cfg) * h * w
    kept = [i for i, st in enumerate(stats) if st["area"] >= min_area]
    # F6: empty-mask fallback — revert to the unfiltered component set
    if not kept:
        kept = list(range(len(stats)))
    if not kept:
        # morphology erased everything: empty extraction, still a success
        return ImageResult("", OK)

    # F7/F8/F10-F13 are seal-local: everything outside the filtered mask is
    # whited out (F7), so the enhancement passes and OCR only ever see the
    # kept components' bounding boxes — the engine therefore computes them
    # crop-local (same semantics, reference pass 2 already works on the
    # extracted masked region, ``src/preprocess.py:280-333``; cost drops
    # from O(H*W) to O(sum of seal areas)).
    texts = []
    red_px = 0
    confidence = 1.0
    boxes = []
    for i in kept:  # deterministic (y0, x0) order from filled_components
        st = stats[i]
        y0, x0, y1, x1 = st["y0"], st["x0"], st["y1"], st["x1"]
        boxes.append((y0, x0, y1, x1))
        comp_mask = paint_runs((y1 - y0, x1 - x0), run_sets[i], origin=(y0, x0))
        red_px += st["area"]
        crop = np.where(comp_mask[..., None], img[y0:y1, x0:x1], np.uint8(255))
        # F8a/F8b: red enhancement passes under the mask
        crop = enhance_red_pass1(crop, comp_mask, cfg)
        crop = enhance_red_pass2(crop, comp_mask, cfg)
        # F9 note: the reference's 1280-px downscale cap (X1) bounds the
        # cost of neural OCR on the full frame.  The engine's OCR stage is
        # decode_seal's area-resample of the crop to the canonical 11-unit
        # grid — already a fixed-size normalization (the "perspective-
        # normalized crop"), so resampling straight from the full-res crop
        # is both cheaper and sharper than resizing RGB first; resize_area
        # keeps INTER_AREA parity for the standalone downscale operator.
        # F10/F11: normalized crop -> glyph-presence mask -> template OCR
        crop_red = rgb_red_mask(crop, cfg.hue_band1, cfg.hue_band2,
                                cfg.sat_min, cfg.val_min)
        decode = cfg.decoder or decode_seal_with_confidence
        text, conf = decode(~crop_red, cfg)
        if text.strip():  # P4: drop blank results
            texts.append(text)
            confidence = min(confidence, conf)
    return ImageResult("".join(texts), OK, len(kept), red_px, confidence,
                       tuple(boxes))

