"""Vectorized numpy image primitives for the extraction kernel.

Every operator here is the engine's re-expression of a reference stage
(SURVEY.md section 2.3); all are pure functions over uint8/bool numpy
arrays, deterministic, and loop-free per pixel and per run (the only
Python loops are over components, colour channels, fixed tap and offset
counts, and the few rounds of label propagation).  Where a stage rounds
to uint8 between float steps, the float formula is tabulated once per
process over its uint8 inputs, so the tables give the same bits.

Reference mapping:

- ``rgb_to_hsv_cv``       <- cv2 BGR2HSV at ``src/preprocess.py:379,483``
- ``red_mask``            <- dual inRange union ``src/preprocess.py:382-384``
- ``erode2/dilate2``      <- morphologyEx MORPH_OPEN ``src/preprocess.py:389-391``
- ``morph_open/close``    <- north-star open+close denoising
- ``connected_components``<- findContours RETR_EXTERNAL ``src/preprocess.py:394-427``
- ``filled_components``   <- drawContours filled redraw ``src/preprocess.py:414-427``
- ``resize_area``         <- cv2 INTER_AREA downscale ``src/ocr_engine.py:250-282``
- ``clahe``               <- cv2 createCLAHE ``src/preprocess.py:231-239, 300-306``
- ``enhance_image``       <- ImageEnhancer ``src/preprocess.py:33-92``
- ``enhance_red_pass1/2`` <- red enhancement ``src/preprocess.py:183-333``

cv2 is unavailable in this environment, so bit-exactness with OpenCV is a
documented quality goal, not the correctness gate: the engine's contract is
span equality against its own single-process oracle, which shares this
module (SURVEY.md section 7 risk list).
"""

from __future__ import annotations

import functools

import numpy as np

from . import native


def _to_u8(x: np.ndarray) -> np.ndarray:
    """``saturate_cast<uint8>(rint(x))`` of a float array, rounding ``x``
    in place (same values as ``np.clip(np.rint(x), 0, 255)``)."""
    np.rint(x, out=x)
    np.maximum(x, 0.0, out=x)
    np.minimum(x, 255.0, out=x)
    return x.astype(np.uint8)


# ---------------------------------------------------------------------------
# color conversions
# ---------------------------------------------------------------------------


def rgb_to_hsv_cv(img: np.ndarray) -> np.ndarray:
    """RGB uint8 -> HSV uint8 with OpenCV ranges (H 0..180, S/V 0..255).

    Follows cv2's uint8 formulation: V=max, S=255*(V-min)/V, H in degrees
    halved to 0..180 (round-half-up).
    """
    shape = img.shape[:-1]
    flat = img.reshape(-1, 3)
    r8, g8, b8 = flat[:, 0], flat[:, 1], flat[:, 2]
    v8 = np.maximum(np.maximum(r8, g8), b8)
    mn8 = np.minimum(np.minimum(r8, g8), b8)
    out = np.zeros(flat.shape, dtype=np.uint8)
    out[:, 2] = v8
    # chromatic pixels only (white/gray/black canvases short-circuit: H=S=0)
    idx = np.flatnonzero(v8 != mn8)
    if idx.size:
        r = r8[idx].astype(np.float32)
        g = g8[idx].astype(np.float32)
        b = b8[idx].astype(np.float32)
        v = v8[idx].astype(np.float32)
        delta = v - mn8[idx].astype(np.float32)
        s = 255.0 * delta / np.maximum(v, 1e-9)
        h = np.where(
            v == r,
            60.0 * (g - b) / delta,
            np.where(v == g, 120.0 + 60.0 * (b - r) / delta, 240.0 + 60.0 * (r - g) / delta),
        )
        h = np.where(h < 0, h + 360.0, h) / 2.0
        out[idx, 0] = (np.floor(h + 0.5).astype(np.int32) % 180).astype(np.uint8)
        out[idx, 1] = np.clip(np.floor(s + 0.5), 0, 255).astype(np.uint8)
    # S for non-chromatic pixels is 0 except pure black where cv2 also gives 0
    return out.reshape(shape + (3,))


_XYZ_M = np.array(
    [[0.412453, 0.357580, 0.180423],
     [0.212671, 0.715160, 0.072169],
     [0.019334, 0.119193, 0.950227]],
    dtype=np.float32,
)
_XYZ_WHITE = np.array([0.950456, 1.0, 1.088754], dtype=np.float32)
_XYZ_M_INV_T = np.linalg.inv(_XYZ_M).T.astype(np.float32)


def rgb_to_lab_cv(img: np.ndarray) -> np.ndarray:
    """RGB uint8 -> Lab uint8 scaled like cv2 (L*255/100, a/b +128)."""
    f = img.astype(np.float32) / 255.0
    xyz = f @ _XYZ_M.T
    xyz /= _XYZ_WHITE
    ft = np.where(xyz > 0.008856, np.cbrt(xyz), 7.787 * xyz + 16.0 / 116.0)
    l = np.where(xyz[..., 1] > 0.008856, 116.0 * ft[..., 1] - 16.0, 903.3 * xyz[..., 1])
    a = 500.0 * (ft[..., 0] - ft[..., 1]) + 128.0
    b = 200.0 * (ft[..., 1] - ft[..., 2]) + 128.0
    out = np.empty(img.shape, dtype=np.uint8)
    out[..., 0] = _to_u8(l * 255.0 / 100.0)
    out[..., 1] = _to_u8(a)
    out[..., 2] = _to_u8(b)
    return out


def lab_to_rgb_cv(lab: np.ndarray) -> np.ndarray:
    """Inverse of :func:`rgb_to_lab_cv` (uint8 in, uint8 RGB out)."""
    l = lab[..., 0].astype(np.float32) * 100.0 / 255.0
    a = lab[..., 1].astype(np.float32) - 128.0
    b = lab[..., 2].astype(np.float32) - 128.0
    fy = (l + 16.0) / 116.0
    fx = fy + a / 500.0
    fz = fy - b / 200.0

    def _finv(t: np.ndarray) -> np.ndarray:
        t3 = t ** 3
        return np.where(t3 > 0.008856, t3, (t - 16.0 / 116.0) / 7.787)

    y = np.where(l > 903.3 * 0.008856, fy ** 3, l / 903.3)
    xyz = np.stack([_finv(fx), y, _finv(fz)], axis=-1) * _XYZ_WHITE
    rgb = xyz @ _XYZ_M_INV_T
    return _to_u8(rgb * 255.0)


# ---------------------------------------------------------------------------
# masking & morphology
# ---------------------------------------------------------------------------


def red_mask(
    hsv: np.ndarray,
    band1: tuple[int, int],
    band2: tuple[int, int],
    sat_min: int,
    val_min: int,
) -> np.ndarray:
    """Dual-band red mask: (H in band1 or band2) and S>=sat_min and V>=val_min."""
    h, s, v = hsv[..., 0], hsv[..., 1], hsv[..., 2]
    in_h = ((h >= band1[0]) & (h <= band1[1])) | ((h >= band2[0]) & (h <= band2[1]))
    return in_h & (s >= sat_min) & (v >= val_min)


_MIN_DELTA_LUTS: dict[int, np.ndarray] = {}


def _min_delta_lut(sat_min: int) -> np.ndarray:
    """Per-V smallest delta with floor(255*delta/v + 0.5) >= sat_min
    (at v == 0: 0 when sat_min == 0, else 1 > v, which nothing passes)."""
    lut = _MIN_DELTA_LUTS.get(sat_min)
    if lut is None:
        v = np.arange(256, dtype=np.float64)
        d = np.arange(256, dtype=np.float64)
        s = np.floor(255.0 * d[None, :] / np.maximum(v[:, None], 1e-9) + 0.5)
        ok = s >= sat_min
        lut = np.where(ok.any(axis=1), ok.argmax(axis=1), 255).astype(np.uint8)
        _MIN_DELTA_LUTS[sat_min] = lut
    return lut


_MAX_MIN_LUTS: dict[tuple[int, int], np.ndarray] = {}


def _max_min_lut(sat_min: int, val_min: int) -> np.ndarray:
    """LUT[v] = largest channel minimum ``mn`` passing both the S and V
    thresholds given max-channel value v, i.e. the S/V test collapses
    to ``mn <= LUT[v]``:

        delta = v - mn >= min_delta[v]  and  v >= val_min
        <=>  mn <= v - min_delta[v]     (v >= val_min)

    with -1 when v < val_min or min_delta[v] > v (no pixel can pass).
    int16, so the bound of r = 255 at sat_min = 0 (255) and "none" (-1)
    both fit."""
    key = (sat_min, val_min)
    lut = _MAX_MIN_LUTS.get(key)
    if lut is None:
        md = _min_delta_lut(sat_min).astype(np.int16)
        v = np.arange(256, dtype=np.int16)
        lut = v - md
        lut[(v < val_min) | (md > v)] = -1
        _MAX_MIN_LUTS[key] = lut
    return lut


def rgb_red_mask(
    img: np.ndarray,
    band1: tuple[int, int],
    band2: tuple[int, int],
    sat_min: int,
    val_min: int,
) -> np.ndarray:
    """Fused RGB -> dual-band red mask, equal to
    ``red_mask(rgb_to_hsv_cv(img), ...)`` (F2+F3 fusion; the dominant
    full-image cost in the kernel).

    The native shim (``native.red_mask``) makes it one C pass that never
    materializes the HSV planes: the S/V thresholds are one table lookup
    on the max channel (:func:`_max_min_lut`), and hue is computed only
    where that passes — on mostly-white documents, a tiny fraction of
    the image.  Where the shim cannot be built, the composition itself
    runs; it is the tests' oracle for the C pass."""
    out = native.red_mask(img, _max_min_lut(sat_min, val_min), band1, band2)
    if out is not None:
        return out
    return red_mask(rgb_to_hsv_cv(img[..., :3]), band1, band2, sat_min, val_min)


def erode2(mask: np.ndarray) -> np.ndarray:
    """Binary erosion with a 2x2 kernel, anchor (1,1), border=True (cv2-style):
    ``out[y, x] = m[y-1, x-1] & m[y-1, x] & m[y, x-1] & m[y, x]``."""
    a = mask.copy()
    a[:, 1:] &= mask[:, :-1]
    out = a.copy()
    out[1:] &= a[:-1]
    return out


def dilate2(mask: np.ndarray) -> np.ndarray:
    """Binary dilation with a 2x2 kernel, anchor (1,1), border=False:
    ``out[y, x] = m[y, x] | m[y, x+1] | m[y+1, x] | m[y+1, x+1]``."""
    a = mask.copy()
    a[:, :-1] |= mask[:, 1:]
    out = a.copy()
    out[:-1] |= a[1:]
    return out


def morph_open(mask: np.ndarray, iterations: int = 1) -> np.ndarray:
    out = mask
    for _ in range(iterations):
        out = dilate2(erode2(out))
    return out


def morph_close(mask: np.ndarray, iterations: int = 1) -> np.ndarray:
    out = mask
    for _ in range(iterations):
        out = erode2(dilate2(out))
    return out


# ---------------------------------------------------------------------------
# connected components (run-length label propagation; 8-connectivity)
# ---------------------------------------------------------------------------


def _runs(mask: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Horizontal runs of True pixels: (row, col_start, col_end_exclusive),
    in (row, col) order."""
    h, w = mask.shape
    padded = np.zeros((h, w + 2), dtype=bool)
    padded[:, 1:-1] = mask
    flat = padded.ravel()
    # every row is framed by False, so the edges alternate start, end
    edges = np.flatnonzero(flat[1:] != flat[:-1]) + 1
    starts, ends = edges[0::2], edges[1::2]
    rows = starts // (w + 2)
    row0 = rows * (w + 2) + 1
    return rows, starts - row0, ends - row0


def _label(rows: np.ndarray, c0: np.ndarray, c1: np.ndarray, w: int) -> np.ndarray:
    """Per run, the smallest run index of its 8-connected component.

    Run ``j`` on row ``r+1`` touches run ``i`` on row ``r`` iff
    ``c0[j] <= c1[i] and c1[j] >= c0[i]``; runs are in (row, col) order, so
    both ends are ascending under the key ``row * (w+1) + col`` and each
    run's touching runs are one ``searchsorted`` range.  Labels then
    propagate to the minimum by hooking roots (``np.minimum.at``) and
    pointer jumping (``lab = lab[lab]``) until every pair agrees.
    """
    n = len(rows)
    key = rows * (w + 1)
    below = key + (w + 1)
    lo = np.searchsorted(key + c1, below + c0, side="left")
    hi = np.searchsorted(key + c0, below + c1, side="right")
    cnt = hi - lo
    ii = np.repeat(np.arange(n), cnt)
    jj = np.arange(len(ii)) + np.repeat(lo - (np.cumsum(cnt) - cnt), cnt)
    lab = np.arange(n)
    while True:
        # lab is idempotent here: every label is the root of its tree
        li, lj = lab[ii], lab[jj]
        split = li != lj
        if not split.any():
            return lab
        ii, jj, li, lj = ii[split], jj[split], li[split], lj[split]
        lo_ = np.minimum(li, lj)
        np.minimum.at(lab, li, lo_)
        np.minimum.at(lab, lj, lo_)
        while True:
            nxt = lab[lab]
            if np.array_equal(nxt, lab):
                break
            lab = nxt


def connected_components(mask: np.ndarray):
    """8-connected labeling of the mask's runs.

    Returns ``(comp_runs, stats)`` where ``comp_runs`` is a list (one entry
    per component, deterministically ordered by (y0, x0) per SURVEY.md O3,
    ties by first run) of ``(rows, c0, c1)`` run arrays in (row, col)
    order, and ``stats`` is a list of dicts ``{area, y0, x0, y1, x1}``
    (bbox is half-open).  Work is proportional to the number of runs, not
    pixels, so sparse masks are cheap.
    """
    rows, c0, c1 = _runs(mask)
    n = len(rows)
    if n == 0:
        return [], []
    lab = _label(rows, c0, c1, mask.shape[1])
    # group runs by component; a stable sort keeps each group in run order
    order = np.argsort(lab, kind="stable")
    rows, c0, c1, lab = rows[order], c0[order], c1[order], lab[order]
    first = np.flatnonzero(np.concatenate(([True], lab[1:] != lab[:-1])))
    last = np.append(first[1:], n)
    area = np.add.reduceat(c1 - c0, first)
    y0, y1 = rows[first], rows[last - 1] + 1
    x0 = np.minimum.reduceat(c0, first)
    x1 = np.maximum.reduceat(c1, first)
    comp_runs, stats = [], []
    # groups are in root order, and lexsort is stable: ties keep it
    for k in np.lexsort((x0, y0)).tolist():
        a, b = first[k], last[k]
        comp_runs.append((rows[a:b], c0[a:b], c1[a:b]))
        stats.append({"area": int(area[k]), "y0": int(y0[k]), "x0": int(x0[k]),
                      "y1": int(y1[k]), "x1": int(x1[k])})
    return comp_runs, stats


def paint_runs(shape: tuple[int, int], run_sets, origin: tuple[int, int] = (0, 0)) -> np.ndarray:
    """Rasterize run arrays into a bool mask (optionally bbox-local via origin)."""
    h, w = shape
    if not run_sets:
        return np.zeros(shape, dtype=bool)
    oy, ox = origin
    rows = np.concatenate([r for r, _, _ in run_sets]) - oy
    base = rows * w - ox
    starts = base + np.concatenate([a for _, a, _ in run_sets])
    ends = base + np.concatenate([b for _, _, b in run_sets])
    # +1 at each run start, -1 at each end: the running sum is the cover
    edge = np.bincount(starts, minlength=h * w + 1) - np.bincount(ends, minlength=h * w + 1)
    return (np.cumsum(edge[: h * w]) > 0).reshape(shape)


def filled_components(mask: np.ndarray):
    """Components with holes filled (cv2 RETR_EXTERNAL + drawContours(-1)).

    Returns ``(run_sets, stats)``: per component (ordered by (y0, x0) per
    SURVEY.md O3) the list of run arrays covering the hole-filled region
    (foreground runs + enclosed hole runs — rasterize with
    :func:`paint_runs`), and a stats dict whose ``area`` is the *filled*
    area (cv2 contourArea semantics, reference ``src/preprocess.py:404-427``).
    Cost is proportional to run count, never pixels.
    """
    comp_runs, stats = connected_components(mask)
    run_sets = []
    out_stats = []
    # hole filling is bbox-local: labeling the inverse of the *global*
    # image would walk every background run of the document (O(image
    # rows)); inverting only each component's crop keeps the cost
    # proportional to seal area.  A local background component that does
    # not touch the crop border is enclosed by this component -> hole.
    for (rows, c0, c1), st in zip(comp_runs, stats):
        y0, x0, y1, x1 = st["y0"], st["x0"], st["y1"], st["x1"]
        ch, cw = y1 - y0, x1 - x0
        hr, ha, hb = _runs(~paint_runs((ch, cw), [(rows, c0, c1)], origin=(y0, x0)))
        lab = _label(hr, ha, hb, cw)
        border = np.zeros(len(hr), dtype=bool)
        border[lab[(hr == 0) | (hr == ch - 1) | (ha == 0) | (hb == cw)]] = True
        hole = ~border[lab]
        hr, ha, hb = hr[hole], ha[hole], hb[hole]
        st = dict(st)
        st["area"] += int(np.sum(hb - ha))
        run_sets.append([(rows, c0, c1), (hr + y0, ha + x0, hb + x0)])
        out_stats.append(st)
    return run_sets, out_stats


# ---------------------------------------------------------------------------
# resizing (INTER_AREA semantics)
# ---------------------------------------------------------------------------


def _area_weights(n_in: int, n_out: int) -> tuple[np.ndarray, np.ndarray]:
    """Per-output-tap (indices, weights) for 1-D area resampling."""
    r = n_in / n_out
    taps = int(np.ceil(r)) + 1
    i = np.arange(n_out, dtype=np.float64)
    lo = i * r
    hi = (i + 1) * r
    j0 = np.floor(lo).astype(np.int64)
    idx = np.empty((n_out, taps), dtype=np.int64)
    wts = np.empty((n_out, taps), dtype=np.float64)
    for k in range(taps):
        j = j0 + k
        overlap = np.minimum(hi, j + 1.0) - np.maximum(lo, j.astype(np.float64))
        wts[:, k] = np.maximum(overlap, 0.0) / r
        idx[:, k] = np.clip(j, 0, n_in - 1)
    return idx, wts


def resize_area(img: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Area-average (box) resampling; exact box-mean for integer ratios.

    Matches cv2 INTER_AREA downscale semantics (reference
    ``src/ocr_engine.py:250-282``): each output pixel is the mean of the
    input region it covers.  Works on 2-D (mask/gray float or bool) and
    3-D arrays; returns float64 for 2-D float/bool input, uint8 for uint8.
    """
    was_uint8 = img.dtype == np.uint8
    f = img.astype(np.float64)
    in_h, in_w = f.shape[:2]
    ridx, rwts = _area_weights(in_h, out_h)
    acc = np.zeros((out_h,) + f.shape[1:], dtype=np.float64)
    for k in range(ridx.shape[1]):
        w = rwts[:, k].reshape((out_h,) + (1,) * (f.ndim - 1))
        acc += f[ridx[:, k]] * w
    cidx, cwts = _area_weights(in_w, out_w)
    out = np.zeros((out_h, out_w) + f.shape[2:], dtype=np.float64)
    for k in range(cidx.shape[1]):
        w = cwts[:, k].reshape((1, out_w) + (1,) * (f.ndim - 2))
        out += acc[:, cidx[:, k]] * w
    if was_uint8:
        return np.clip(np.rint(out), 0, 255).astype(np.uint8)
    return out


# ---------------------------------------------------------------------------
# blurs / sharpening / contrast
# ---------------------------------------------------------------------------


def _sep_convolve(f: np.ndarray, kernel: np.ndarray) -> np.ndarray:
    """Separable 2-D convolution with BORDER_REFLECT_101 padding."""
    k = len(kernel)
    r = k // 2
    pad_spec = [(r, r), (0, 0)] + [(0, 0)] * (f.ndim - 2)
    p = np.pad(f, pad_spec, mode="reflect")
    acc = np.zeros_like(f, dtype=np.float64)
    for i in range(k):
        acc += kernel[i] * p[i : i + f.shape[0]]
    pad_spec = [(0, 0), (r, r)] + [(0, 0)] * (f.ndim - 2)
    p = np.pad(acc, pad_spec, mode="reflect")
    out = np.zeros_like(f, dtype=np.float64)
    for i in range(k):
        out += kernel[i] * p[:, i : i + f.shape[1]]
    return out


def gaussian_blur(img: np.ndarray, sigma: float, ksize: int) -> np.ndarray:
    x = np.arange(ksize, dtype=np.float64) - (ksize - 1) / 2.0
    kern = np.exp(-(x**2) / (2.0 * sigma**2))
    kern /= kern.sum()
    out = _sep_convolve(img.astype(np.float64), kern)
    if img.dtype == np.uint8:
        return np.clip(np.rint(out), 0, 255).astype(np.uint8)
    return out


def box_blur3(img: np.ndarray) -> np.ndarray:
    kern = np.full(3, 1.0 / 3.0)
    out = _sep_convolve(img.astype(np.float64), kern)
    if img.dtype == np.uint8:
        return np.clip(np.rint(out), 0, 255).astype(np.uint8)
    return out


def _box_sum(a: np.ndarray, k: int) -> np.ndarray:
    """Valid-mode k x k window sum via integral image (two cumsums)."""
    c = np.cumsum(np.cumsum(a, axis=0, dtype=np.float64), axis=1)
    c = np.pad(c, ((1, 0), (1, 0)))
    return c[k:, k:] - c[:-k, k:] - c[k:, :-k] + c[:-k, :-k]


def nl_means_denoise(img: np.ndarray, h: float = 10.0, template: int = 7,
                     search: int = 11) -> np.ndarray:
    """Non-local-means denoise (Buades et al. 2005), pure numpy.

    Reference F1 runs ``cv2.fastNlMeansDenoisingColored`` on low-quality
    inputs (``src/preprocess.py:33-92``); this is the same algorithm
    vectorized over search offsets: for every offset d in the search
    window, one shifted-difference pass + one integral-image box filter
    yields the patch-SSD map, and pixels are averaged with weights
    ``exp(-SSD / (h^2 * |patch|))``.  Exact cv2 parity is impossible
    without cv2 (its fast variant also differs from the textbook
    algorithm), so correctness is pinned by property tests: identity-ish
    on clean flat images, strong noise reduction on noisy flat regions,
    edge preservation, determinism.

    ``search`` defaults to 11 (cv2 default is 21) to bound the per-image
    cost of the config-gated low-quality branch — O(search^2) passes;
    pass ``search=21`` for full-window parity.
    """
    was_2d = img.ndim == 2
    if was_2d:
        img = img[:, :, None]
    f32 = img.astype(np.float32)
    hh, ww, nc = f32.shape
    t2, s2 = template // 2, search // 2
    pad = t2 + s2
    padded = np.pad(f32, ((pad, pad), (pad, pad), (0, 0)), mode="reflect")
    base = padded[s2 : s2 + hh + 2 * t2, s2 : s2 + ww + 2 * t2]
    wsum = np.zeros((hh, ww), np.float64)
    acc = np.zeros((hh, ww, nc), np.float64)
    norm = float(h) * float(h) * nc * template * template
    for dy in range(-s2, s2 + 1):
        for dx in range(-s2, s2 + 1):
            shifted = padded[s2 + dy : s2 + dy + hh + 2 * t2,
                             s2 + dx : s2 + dx + ww + 2 * t2]
            d2 = ((shifted - base) ** 2).sum(axis=2)
            w = np.exp(-_box_sum(d2, template) / norm)
            wsum += w
            acc += w[..., None] * shifted[t2 : t2 + hh, t2 : t2 + ww]
    out = np.clip(np.rint(acc / wsum[..., None]), 0, 255).astype(np.uint8)
    # Only squeeze when the CALLER passed 2D input: an HxWx1 3D input
    # keeps its 3D shape (output ndim mirrors input ndim).
    return out[:, :, 0] if was_2d else out


def convert_scale_abs(img: np.ndarray, alpha: float, beta: float) -> np.ndarray:
    """cv2.convertScaleAbs: saturate_cast<uint8>(round(|alpha*x + beta|))."""
    return np.clip(np.rint(np.abs(img.astype(np.float64) * alpha + beta)), 0, 255).astype(np.uint8)


def blend(a: np.ndarray, b: np.ndarray, wa: float) -> np.ndarray:
    """cv2.addWeighted(a, wa, b, 1-wa, 0) with uint8 saturation."""
    out = a.astype(np.float64) * wa
    out += b.astype(np.float64) * (1.0 - wa)
    return _to_u8(out)


# ---------------------------------------------------------------------------
# CLAHE
# ---------------------------------------------------------------------------


def clahe(channel: np.ndarray, clip_limit: float, grid: int) -> np.ndarray:
    """Contrast-limited adaptive histogram equalization on a uint8 channel.

    Tile grid ``grid x grid`` over the edge-replicated frame; per-tile
    clipped histogram -> CDF LUT; bilinear interpolation between the four
    neighboring tile LUTs (cv2 createCLAHE semantics; uniform
    redistribution of clipped excess).
    """
    h, w = channel.shape
    th = -(-h // grid)  # ceil
    tw = -(-w // grid)
    # all tile histograms in one bincount over tile * 256 + value, the
    # frame edge-replicated to grid*th x grid*tw by index
    py, px = np.arange(th * grid), np.arange(tw * grid)
    padded = channel.take(np.minimum(py, h - 1), 0).take(np.minimum(px, w - 1), 1)
    key = (py // th * (grid * 256))[:, None] + (px // tw * 256)[None, :]
    key += padded
    hist = np.bincount(key.ravel(), minlength=grid * grid * 256)
    hist = hist.reshape(grid, grid, 256).astype(np.float64)
    tile_area = th * tw
    clip = max(clip_limit * tile_area / 256.0, 1.0)
    excess = np.sum(np.maximum(hist - clip, 0.0), axis=-1, keepdims=True)
    np.minimum(hist, clip, out=hist)
    hist += excess / 256.0
    lut = np.cumsum(hist, axis=-1, out=hist).ravel()  # the CDF, then the LUT
    lut *= 255.0
    lut /= tile_area
    np.rint(lut, out=lut)
    np.minimum(lut, 255.0, out=lut)
    # bilinear interpolation between the four neighboring tile LUTs,
    # gathered by flat index (tile * 256 + value)
    yy = (np.arange(h, dtype=np.float64) + 0.5) / th - 0.5
    xx = (np.arange(w, dtype=np.float64) + 0.5) / tw - 0.5
    y0 = np.clip(np.floor(yy), 0, grid - 1).astype(np.int64)
    x0 = np.clip(np.floor(xx), 0, grid - 1).astype(np.int64)
    y1 = np.minimum(y0 + 1, grid - 1)
    x1 = np.minimum(x0 + 1, grid - 1)
    fy = np.clip(yy - y0, 0.0, 1.0)[:, None]
    fx = np.clip(xx - x0, 0.0, 1.0)[None, :]
    i = (y0 * (grid * 256))[:, None] + (x0 * 256)[None, :]
    i += channel
    right = ((x1 - x0) * 256)[None, :]
    gx = 1 - fx
    top = lut[i] * gx
    top += lut[i + right] * fx
    i += ((y1 - y0) * (grid * 256))[:, None]
    bot = lut[i] * gx
    bot += lut[i + right] * fx
    top *= 1 - fy
    bot *= fy
    top += bot
    # a convex blend of LUT entries in [0, 255] rounds back into [0, 255]
    return np.rint(top, out=top).astype(np.uint8)


# ---------------------------------------------------------------------------
# enhancement passes (reference ImageEnhancer / RedRegionExtractor)
# ---------------------------------------------------------------------------


def enhance_image(img: np.ndarray, cfg) -> np.ndarray:
    """Low-quality-input enhancement (reference ``src/preprocess.py:33-92``).

    Denoise is real NL-means (:func:`nl_means_denoise` — the reference's
    algorithm, pure numpy) blended ``denoise_blend_orig`` original /
    rest denoised.  Then contrast
    convertScaleAbs(1.1) and unsharp masking (Gaussian sigma=2,
    1.5*img - 0.5*blur, blended 0.6/0.4).
    """
    den_raw = nl_means_denoise(img, cfg.nlm_h, cfg.nlm_template, cfg.nlm_search)
    den = blend(img, den_raw, cfg.denoise_blend_orig)
    con = convert_scale_abs(den, cfg.contrast_alpha, cfg.contrast_beta)
    g = gaussian_blur(con, cfg.unsharp_sigma, cfg.unsharp_ksize)
    sharp = np.clip(
        np.rint(con.astype(np.float64) * cfg.unsharp_strength
                - g.astype(np.float64) * (cfg.unsharp_strength - 1.0)),
        0,
        255,
    ).astype(np.uint8)
    return blend(con, sharp, cfg.unsharp_blend_orig)


def enhance_red_pass1(img: np.ndarray, mask: np.ndarray, cfg) -> np.ndarray:
    """Red enhancement pass 1 (reference ``src/preprocess.py:183-278``).

    Within the mask: boost S/V of red-hue pixels, CLAHE + gamma on V,
    whiteout black (V<48 & S<90, dark-red protected by the S bound) and
    gray (S<0.3*255, non-red-hue ... but near-black achromatic pixels have
    H=0 which IS red-hue, so blackness is tested too) interference.  The
    interference predicates are evaluated on the *input* pixel values —
    boosting/equalization is meant for seal reds, and detecting residue on
    pre-transform values keeps the predicate independent of CLAHE's
    neighborhood-dependent shifts (deterministic engine spec; the
    reference evaluates post-transform, ``src/preprocess.py:241-278``).
    """
    hsv0 = rgb_to_hsv_cv(img)
    h, s, v = hsv0[..., 0], hsv0[..., 1], hsv0[..., 2]
    is_black = mask & (v < cfg.black_v_max) & (s < cfg.black_s_max)
    red_hue0 = (h < cfg.red_hue_lo) | (h > cfg.red_hue_hi)
    achromatic = s < 8  # H is meaningless without saturation
    is_gray = mask & (s < cfg.gray_s_max) & (~red_hue0 | (achromatic & (v < 250)))
    # every step below rounds to uint8 before the next one reads it, so
    # each is a 256-entry table of its float64 formula
    boost = mask & red_hue0
    s = np.where(boost, _scale_lut(cfg.sat_boost)[s], s)
    v = np.where(boost, _scale_lut(cfg.val_boost)[v], v)
    v_eq = clahe(v, cfg.clahe1_clip, cfg.clahe1_grid)
    v = np.where(mask, _gamma_lut(cfg.gamma)[v_eq], v)
    out = _hsv_to_rgb(h, s, v)
    out[is_black | is_gray] = 255
    return out


def enhance_red_pass2(img: np.ndarray, mask: np.ndarray, cfg) -> np.ndarray:
    """Red enhancement pass 2 (reference ``src/preprocess.py:280-333``).

    LAB CLAHE on L, HSV S*1.2 / V*1.1, 3x3 sharpen blended 0.7/0.3 —
    applied only under the mask.
    """
    lab = rgb_to_lab_cv(img)
    np.copyto(lab[..., 0], clahe(lab[..., 0], cfg.clahe2_clip, cfg.clahe2_grid), where=mask)
    hsv = rgb_to_hsv_cv(lab_to_rgb_cv(lab))
    step = _hsv_to_rgb(hsv[..., 0], _scale_lut(cfg.sat_boost2)[hsv[..., 1]],
                       _scale_lut(cfg.val_boost2)[hsv[..., 2]])
    # 3x3 sharpen kernel [[0,-1,0],[-1,5,-1],[0,-1,0]] scaled by amount,
    # blended 0.7/0.3 with the unsharpened value: a function of the value
    # and the sum of its four neighbours (BORDER_REFLECT_101 at the edges)
    h, w = mask.shape
    f = step.astype(np.int32)
    idx = f * _NB_SPAN
    idx[1:] += f[:-1]
    idx[0] += f[min(1, h - 1)]
    idx[:-1] += f[1:]
    idx[-1] += f[max(h - 2, 0)]
    idx[:, 1:] += f[:, :-1]
    idx[:, 0] += f[:, min(1, w - 1)]
    idx[:, :-1] += f[:, 1:]
    idx[:, -1] += f[:, max(w - 2, 0)]
    out = img.copy()
    np.copyto(out, _sharpen_lut(cfg.sharpen_amount, cfg.sharpen_blend_orig)[idx],
              where=mask[..., None])
    return out


# four uint8 neighbours sum to 0..1020
_NB_SPAN = 4 * 255 + 1


@functools.cache
def _sharpen_lut(amount: float, blend_orig: float) -> np.ndarray:
    """Pass 2's sharpen-and-blend of a value ``f`` whose four neighbours
    sum to ``n``, indexed by ``f * _NB_SPAN + n``:
    ``blend(f, rint(f*(1-amount) + (5f - n)*amount), blend_orig)``.  The
    Laplacian ``5f - n`` is an integer, so the float chain's value is
    exactly this one."""
    f = np.arange(256, dtype=np.float64)[:, None]
    n = np.arange(_NB_SPAN, dtype=np.float64)[None, :]
    sharp = f * (1.0 - amount) + (5.0 * f - n) * amount
    return _frozen(blend(np.broadcast_to(f, sharp.shape), _to_u8(sharp), blend_orig).ravel())


def _frozen(table: np.ndarray) -> np.ndarray:
    """``table`` made read-only: the cached tables are shared by every call."""
    table.flags.writeable = False
    return table


# per-sector channel source among (0=c, 1=x, 2=z), each plus m, for hsv_to_rgb_cv
_HSV_SECTOR_R = np.array([0, 1, 2, 2, 1, 0])
_HSV_SECTOR_G = np.array([1, 0, 0, 1, 2, 2])
_HSV_SECTOR_B = np.array([2, 2, 1, 0, 0, 1])


@functools.cache
def _scale_lut(factor: float) -> np.ndarray:
    """``saturate_cast<uint8>(rint(min(k * factor, 255)))`` for k in 0..255."""
    return _frozen(_to_u8(np.minimum(np.arange(256, dtype=np.float64) * factor, 255.0)))


@functools.cache
def _gamma_lut(gamma: float) -> np.ndarray:
    """``saturate_cast<uint8>(rint(255 * (k / 255) ** gamma))`` for k in 0..255."""
    return _frozen(_to_u8(255.0 * np.power(np.arange(256, dtype=np.float64) / 255.0, gamma)))


@functools.cache
def _hsv_tables():
    """The float64 terms of the cv2 HSV -> RGB formula, tabulated.

    With ``c = v * s/255``, ``m = v - c`` and ``x = c * f(h)``, each output
    channel is one of ``c + m``, ``x + m`` or ``m``, picked by the hue
    sector.  By hue: ``f`` and each channel's pick (0=c+m, 1=x+m, 2=m).  By
    ``s * 256 + v``: ``c``, and ``c + m`` and ``m`` rounded to uint8.
    Only ``x + m`` needs all three inputs, so it is the one product left
    per pixel (~0.6 MB of tables).
    """
    hp = np.arange(256, dtype=np.float64) * 2.0 / 60.0
    f = 1.0 - np.abs(hp % 2.0 - 1.0)
    sector = np.floor(hp).astype(np.int64) % 6
    pick = tuple(_frozen(sec[sector].astype(np.uint8))
                 for sec in (_HSV_SECTOR_R, _HSV_SECTOR_G, _HSV_SECTOR_B))
    v = np.arange(256, dtype=np.float64)
    c = (v[None, :] * (v[:, None] / 255.0)).ravel()
    m = np.tile(v, 256) - c
    return (_frozen(f), pick, _frozen(v), _frozen(c), _frozen(_to_u8(c + m)),
            _frozen(_to_u8(m)))


def _hsv_to_rgb(h: np.ndarray, s: np.ndarray, v: np.ndarray) -> np.ndarray:
    """:func:`hsv_to_rgb_cv` of the uint8 planes ``h``, ``s``, ``v``."""
    f, pick, vf, c, cm8, m8 = _hsv_tables()
    sv = s.astype(np.intp)
    sv <<= 8
    sv |= v
    cs = c[sv]
    m = vf[v] - cs
    xm = cs * f[h]
    xm += m
    x8, cm, mm = _to_u8(xm), cm8[sv], m8[sv]
    out = np.empty(h.shape + (3,), dtype=np.uint8)
    for k in range(3):
        src = pick[k][h]
        out[..., k] = np.where(src == 0, cm, np.where(src == 1, x8, mm))
    return out


def hsv_to_rgb_cv(hsv: np.ndarray) -> np.ndarray:
    """HSV uint8 (cv2 ranges) -> RGB uint8 (inverse of rgb_to_hsv_cv)."""
    return _hsv_to_rgb(hsv[..., 0], hsv[..., 1], hsv[..., 2])
