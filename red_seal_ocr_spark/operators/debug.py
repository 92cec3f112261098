"""Debug-image sink (reference ``util/debug_image.py`` / K3 mapping).

Off by default; for a bounded sample of media refs, writes the kernel's
intermediate artifacts (red mask, whiteout/enhanced crops) as PNGs plus a
stats text block — the same inspection surface the reference's manual
harness prints (red ratios, kept contours, per-contour bbox/area).

Deliberately driver-side over a LIMITed sample (a debug tool, never part
of the distributed plan), matching the reference's single-image scope.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np

from ..config import DEFAULT_CONFIG, EngineConfig
from ..functions.imageops import (
    filled_components,
    morph_close,
    morph_open,
    paint_runs,
    rgb_red_mask,
)
from ..functions.codecs import ImageDecodeError, decode_image_lazy
from ..functions.kernel import _area_ratio
from ..functions.png import encode_png


def dump_debug_images(media_rows, out_dir: str,
                      cfg: EngineConfig = DEFAULT_CONFIG) -> list[dict]:
    """``media_rows``: iterable of (media_ref, content).  Writes
    ``<ref>.mask.png``, ``<ref>.filtered.png`` and returns per-ref stats
    dicts (red_ratio, n_components, kept components with bbox/area)."""
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    results = []
    for media_ref, content in media_rows:
        entry: dict = {"media_ref": media_ref}
        try:
            img = decode_image_lazy(bytes(content)).full()
        except (ImageDecodeError, TypeError) as exc:
            entry["error"] = f"{type(exc).__name__}: {exc}"
            results.append(entry)
            continue
        h, w = img.shape[:2]
        mask0 = rgb_red_mask(img, cfg.hue_band1, cfg.hue_band2, cfg.sat_min, cfg.val_min)
        m = morph_close(morph_open(mask0, cfg.morph_iterations), cfg.morph_iterations)
        run_sets, stats = filled_components(m)
        min_area = _area_ratio(h, w, cfg) * h * w
        kept = [i for i, st in enumerate(stats) if st["area"] >= min_area]
        filtered = paint_runs((h, w), [runs for i in kept for runs in run_sets[i]])
        safe = media_ref.replace("/", "_")
        (out / f"{safe}.mask.png").write_bytes(
            encode_png((m * np.uint8(255)).astype(np.uint8))
        )
        processed = np.where(filtered[..., None], img, np.uint8(255))
        (out / f"{safe}.filtered.png").write_bytes(encode_png(processed))
        entry.update(
            {
                "shape": (h, w),
                "red_pixels": int(m.sum()),
                "red_ratio": float(m.mean()),
                "n_components": len(stats),
                "kept_components": [
                    {
                        "bbox": (stats[i]["y0"], stats[i]["x0"],
                                 stats[i]["y1"], stats[i]["x1"]),
                        "area": stats[i]["area"],
                        "aspect": round(
                            (stats[i]["x1"] - stats[i]["x0"])
                            / max(1, stats[i]["y1"] - stats[i]["y0"]),
                            3,
                        ),
                    }
                    for i in kept
                ],
            }
        )
        results.append(entry)
    report = out / "debug_stats.txt"
    with report.open("w") as f:
        for e in results:
            f.write(f"{e}\n")
    return results
