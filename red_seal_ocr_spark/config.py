"""Engine configuration constants.

The reference binds all operator constants from ``config.yaml`` at startup
(reference ``src/preprocess.py:593-647``).  The engine replaces the YAML
indirection with one frozen dataclass whose defaults follow the north-star
spec (hue bands 0-10 / 156-180) and the reference's shipped values for
everything the north star does not pin:

- dual-band red HSV ranges        reference ``config.yaml:17-22``,
                                  code defaults ``src/preprocess.py:620-625``
- morphology 2x2 open (hardcoded) reference ``src/preprocess.py:389-391``;
                                  north star adds close -> we do open+close
- contour area ratios             reference ``src/preprocess.py:397-403``
- quality gate thresholds         reference ``src/preprocess.py:94-130``,
                                  ``config.yaml:238-242``
- enhancement parameters          reference ``src/preprocess.py:33-92``,
                                  ``config.yaml:249-263``
- red enhancement passes 1/2      reference ``src/preprocess.py:183-333``
- downscale cap 1280              reference ``src/ocr_engine.py:250-282``,
                                  ``config.yaml:111``

The config is a plain dataclass so the Spark driver can broadcast it (it is
tiny) or simply close over it in the pandas UDF; all fields are immutable.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class EngineConfig:
    # --- dual-band red mask (north star: H in [0,10] U [156,180]) ---
    hue_band1: tuple[int, int] = (0, 10)
    hue_band2: tuple[int, int] = (156, 180)
    sat_min: int = 50
    val_min: int = 50

    # --- morphology (reference hardcodes 2x2 open x1; north star adds close)
    morph_kernel: int = 2
    morph_iterations: int = 1

    # --- connected-component area filter (reference preprocess.py:397-403)
    # ratio thresholds keyed by max(H, W): <1000 -> 2e-5, <2000 -> 5e-5,
    # else 1e-4; area is the hole-filled component area (cv2 contourArea of
    # the RETR_EXTERNAL outer contour).
    area_ratio_small: float = 2e-5
    area_ratio_mid: float = 5e-5
    area_ratio_large: float = 1e-4
    area_dim_small: int = 1000
    area_dim_mid: int = 2000

    # --- quality gate (reference preprocess.py:94-130) ---
    # The reference enhances low-quality inputs (file < 200 KB OR max dim
    # < 1200).  The north-star kernel chain does not include enhancement,
    # so the engine defaults the gate OFF (thresholds 0 -> nothing is
    # "low quality"); the reference's shipped thresholds remain available
    # via EngineConfig(size_threshold_kb=200, resolution_threshold=1200)
    # and the operator (F1) is implemented + unit-tested either way.
    size_threshold_kb: int = 0
    resolution_threshold: int = 0

    # --- enhancement (reference preprocess.py:33-92) ---
    # Denoise is real NL-means (imageops.nl_means_denoise — the reference's
    # algorithm, pure numpy); 'box' selects the cheap 3x3 box-blur
    # substitute of rounds 1-2.  The reference applies denoise only to
    # low-quality inputs; this whole branch is gated by the thresholds
    # above (default off).
    denoise_method: str = "nl_means"  # 'nl_means' | 'box'
    nlm_h: float = 10.0  # cv2 fastNlMeansDenoisingColored default h
    nlm_template: int = 7  # cv2 default templateWindowSize
    nlm_search: int = 11  # cv2 default is 21; 11 bounds the gated branch's cost
    denoise_blend_orig: float = 0.7
    contrast_alpha: float = 1.1
    contrast_beta: float = 0.0
    unsharp_sigma: float = 2.0
    unsharp_ksize: int = 13  # cv2 derives 13 taps from sigma=2 for uint8
    unsharp_strength: float = 1.5  # 1.5*img - 0.5*blur
    unsharp_blend_orig: float = 0.6

    # --- red enhancement pass 1 (reference preprocess.py:183-278) ---
    red_hue_lo: int = 20   # "red hue" predicate: h < 20 or h > 160
    red_hue_hi: int = 160
    sat_boost: float = 2.3
    val_boost: float = 1.55
    clahe1_clip: float = 5.0
    clahe1_grid: int = 3
    gamma: float = 0.82
    black_v_max: int = 48
    black_s_max: int = 90
    gray_s_max: int = 76   # 0.3 * 255 rounded down

    # --- red enhancement pass 2 (reference preprocess.py:280-333) ---
    clahe2_clip: float = 2.0
    clahe2_grid: int = 8
    sat_boost2: float = 1.2
    val_boost2: float = 1.1
    sharpen_amount: float = 0.3
    sharpen_blend_orig: float = 0.7

    # --- downscale cap (reference ocr_engine.py:250-282) ---
    max_size: int = 1280

    # --- per-item cost budget (reference ocr_pool.py:56-98 reinit-on-hang,
    # mapped to an a-priori bound: the kernel is O(pixels), so capping
    # header-declared pixels before decode deterministically bounds each
    # item's cost; breach -> failure_kind='too_large' pass-through) ---
    max_pixels: int = 64_000_000

    # --- OCR decoder swap-in point (F10): callable
    # (glyph_presence_mask: bool ndarray, cfg) -> (text: str, conf: float);
    # None = the built-in deterministic template decoder.  The neural-model
    # swap (reference src/ocr_engine.py:578-632 PaddleOCR invoke) plugs in
    # here without touching the kernel chain (contract-tested). ---
    decoder: object = None

    # --- image codec swap-in point (S2): callable
    # (content: bytes, max_pixels: int) -> decoded image exposing
    # .h .w .crop(y0,y1,x0,x1) .view() .full(), raising
    # codecs.ImageTooLarge / codecs.ImageDecodeError on bad input;
    # None = the built-in format-sniffing dispatch (codecs.decode_image_lazy),
    # which decodes JPEG through the system libjpeg.  Kept as the seam
    # tests use to inject fake decoders (tests/test_budget_decoder.py);
    # the reference's own precedent is its dual PIL/OpenCV load path
    # (src/preprocess.py:335-361, dup src/ocr_engine.py:214-240).
    # Contract-tested end-to-end through the Spark pipeline. ---
    codec: object = None

    # --- optional seal-bbox metric column (F12 completion: the reference
    # reports per-item bboxes, src/ocr_engine.py:705-724).  When set,
    # extract_documents adds a `seal_bboxes` map column (offset ->
    # array of [y0, x0, y1, x1] per kept component) gated OFF the
    # span-equality tuple — the spans schema is unchanged. ---
    emit_bboxes: bool = False

    # --- template OCR ---
    ocr_max_hamming: int = 6  # of 35 cells; worse -> glyph dropped

    # --- seal layout (shared by datagen render and OCR decode) ---
    seal_pad_units: int = 2
    seal_gap_units: int = 1
    cell_w: int = 5
    cell_h: int = 7

    # --- Spark-side knobs ---
    arrow_max_records: int = 64  # images inflate ~10x decoded; keep batches small
    # 0 = operators.extract.kernel_partitions: one kernel task per core
    # under a local[...] master, spark.sql.shuffle.partitions under any
    # other; cluster deployments tune the latter (or set this)
    salt_partitions: int = 0

    @property
    def seal_units_h(self) -> int:
        return self.cell_h + 2 * self.seal_pad_units

    def seal_units_w(self, n_glyphs: int) -> int:
        return 2 * self.seal_pad_units + n_glyphs * self.cell_w + (n_glyphs - 1) * self.seal_gap_units


DEFAULT_CONFIG = EngineConfig()


def load_config(path: str | None = None, **overrides) -> EngineConfig:
    """Config source (reference ``src/preprocess.py:593-647`` S5 parity):
    YAML preferred when PyYAML is importable, JSON otherwise; hardcoded
    defaults when no file is given.  Unknown keys are rejected (the
    reference silently merges; failing fast is the deliberate change)."""
    data: dict = {}
    if path:
        import json

        text = open(path).read()
        if path.endswith((".yaml", ".yml")):
            try:
                import yaml  # type: ignore

                data = yaml.safe_load(text) or {}
            except ImportError as exc:
                raise RuntimeError("PyYAML not installed; use a JSON config") from exc
        else:
            data = json.loads(text)
    data.update(overrides)
    known = set(EngineConfig.__dataclass_fields__)
    unknown = set(data) - known
    if unknown:
        raise ValueError(f"unknown config keys: {sorted(unknown)}")
    # tuples arrive as lists from JSON/YAML
    for key in ("hue_band1", "hue_band2"):
        if key in data:
            data[key] = tuple(data[key])
    return EngineConfig(**data)
