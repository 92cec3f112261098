"""Vectorized numpy image primitives for the extraction kernel.

Every operator here is the engine's re-expression of a reference stage
(SURVEY.md section 2.3); all are pure functions over uint8/bool numpy
arrays, deterministic, and loop-free per pixel (the only Python loops are
over PNG filter rows, run-length segments, and fixed tap counts).

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

import numpy as np

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
    out[..., 0] = np.clip(np.rint(l * 255.0 / 100.0), 0, 255).astype(np.uint8)
    out[..., 1] = np.clip(np.rint(a), 0, 255).astype(np.uint8)
    out[..., 2] = np.clip(np.rint(b), 0, 255).astype(np.uint8)
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
    rgb = xyz @ np.linalg.inv(_XYZ_M).T.astype(np.float32)
    return np.clip(np.rint(rgb * 255.0), 0, 255).astype(np.uint8)


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


_SCRATCH: dict[str, np.ndarray] = {}


def _scratch(key: str, n: int) -> np.ndarray:
    """Reusable uint8 worker-lifetime buffer (grown geometrically)."""
    buf = _SCRATCH.get(key)
    if buf is None or buf.size < n:
        buf = np.empty(int(n * 1.25) + 64, dtype=np.uint8)
        _SCRATCH[key] = buf
    return buf[:n]


def _scratch_bool(key: str, n: int) -> np.ndarray:
    return _scratch(key, n).view(bool)


_MIN_DELTA_LUTS: dict[int, np.ndarray] = {}


def _min_delta_lut(sat_min: int) -> np.ndarray:
    """Per-V smallest delta with floor(255*delta/v + 0.5) >= sat_min."""
    lut = _MIN_DELTA_LUTS.get(sat_min)
    if lut is None:
        v = np.arange(256, dtype=np.float64)
        d = np.arange(256, dtype=np.float64)
        s = np.floor(255.0 * d[None, :] / np.maximum(v[:, None], 1e-9) + 0.5)
        ok = s >= sat_min
        lut = np.where(ok.any(axis=1), ok.argmax(axis=1), 255).astype(np.uint8)
        lut[0] = 255  # v == 0 -> S == 0, never passes a positive sat_min
        _MIN_DELTA_LUTS[sat_min] = lut
    return lut


_MAX_MIN_LUTS: dict[tuple[int, int], np.ndarray] = {}


def _max_min_lut(sat_min: int, val_min: int) -> np.ndarray:
    """LUT2U[r] = largest ``min(g,b)`` (exclusive) passing both the S and
    V thresholds given max-channel value r, i.e. the candidate test
    collapses to ``min(g,b) < LUT2U[r]``:

        delta = r - min(g,b) >= min_delta[r]  and  r >= val_min
        <=>  min(g,b) <= r - min_delta[r]     (r >= val_min)
        <=>  min(g,b) <  r - min_delta[r] + 1

    with 0 when r < val_min or min_delta[r] > r (no pixel can pass)."""
    key = (sat_min, val_min)
    lut = _MAX_MIN_LUTS.get(key)
    if lut is None:
        md = _min_delta_lut(sat_min).astype(np.int32)
        r = np.arange(256, dtype=np.int32)
        bound = r - md + 1
        bound[(r < val_min) | (md > r)] = 0
        lut = np.clip(bound, 0, 255).astype(np.uint8)
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
    ``red_mask(rgb_to_hsv_cv(img), ...)`` (unit-tested) but without
    materializing the HSV planes: hue is computed only on the few pixels
    that already pass the S/V thresholds — on mostly-white documents that
    is a tiny fraction of the image (F2+F3 fusion; the dominant full-image
    cost in the kernel)."""
    shape = img.shape[:-1]
    n = int(np.prod(shape))
    # channel planes are strided views of the interleaved frame — every
    # op below is elementwise or a fancy gather, so no copy is ever forced
    r8, g8, b8 = img[..., 0], img[..., 1], img[..., 2]
    # Exact candidate screen: any pixel whose hue falls in the red bands
    # (H in [0,10] U [156,180], i.e. degrees < 30 or > 312) has V == R, so
    # the S/V thresholds reduce to tests on R and min(G,B) alone — no
    # full-frame max/min over all three channels needed.  Worker-lifetime
    # scratch buffers avoid large-ndarray churn (mmap page faults
    # serialize across parallel workers; measured ~2x worse scaling).
    mn_gb = np.minimum(g8, b8, out=_scratch("mn", n).reshape(shape))
    # S/V thresholds collapse into one LUT on the R channel:
    # candidate <=> min(g,b) < LUT2U[r] and r is the max channel
    bound = np.take(_max_min_lut(sat_min, val_min), r8,
                    out=_scratch("lut", n).reshape(shape))
    cand = np.less(mn_gb, bound, out=_scratch_bool("c1", n).reshape(shape))
    cand &= np.greater_equal(r8, g8, out=_scratch_bool("c3", n).reshape(shape))
    cand &= np.greater_equal(r8, b8, out=_scratch_bool("c4", n).reshape(shape))
    out = np.zeros(shape, dtype=bool)
    idx = np.flatnonzero(cand)
    if idx.size > 0.2 * n:
        # DENSE path: seal-crop calls run this mask over regions that are
        # mostly red (candidate density near 1), where the sparse
        # gather/scatter below costs more than straight full-frame
        # arithmetic.  Expressions are verbatim copies of the sparse path
        # (same dtype promotions), so per-candidate values are
        # bit-identical; h is zeroed outside candidates BEFORE the int
        # cast so no overflow-undefined lanes exist (their out lanes are
        # masked by `cand` anyway).
        r = r8.astype(np.float32)
        g = g8.astype(np.float32)
        b = b8.astype(np.float32)
        # S/V re-check is omitted: cand <=> min(g,b) < LUT2U[r] is exactly
        # delta >= min_delta[r] <=> floor(255*delta/r + 0.5) >= sat_min
        # (s monotone in delta, v == r on candidates) — the screen IS the
        # saturation test, by _max_min_lut construction; pinned by the
        # formula-golden and fuzz suites
        delta = r - np.minimum(mn_gb, r8).astype(np.float32)
        safe = np.maximum(delta, 1e-9)
        h = 60.0 * (g - b) / safe  # the v == r branch, always taken
        h = np.where(h < 0, h + 360.0, h) / 2.0
        h = np.where(cand, h, 0.0)
        h8 = np.floor(h + 0.5).astype(np.int32) % 180
        in_h = ((h8 >= band1[0]) & (h8 <= band1[1])) | ((h8 >= band2[0]) & (h8 <= band2[1]))
        np.logical_and(cand, in_h, out=out)
    elif idx.size:
        pos = np.unravel_index(idx, shape)
        r = r8[pos].astype(np.float32)
        g = g8[pos].astype(np.float32)
        b = b8[pos].astype(np.float32)
        # S/V re-check omitted — see the dense-path note (the candidate
        # screen is exactly the saturation/value test by LUT construction)
        delta = r - np.minimum(mn_gb[pos], r8[pos]).astype(np.float32)
        safe = np.maximum(delta, 1e-9)
        h = 60.0 * (g - b) / safe  # candidates all have V == R
        h = np.where(h < 0, h + 360.0, h) / 2.0
        h8 = np.floor(h + 0.5).astype(np.int32) % 180
        in_h = ((h8 >= band1[0]) & (h8 <= band1[1])) | ((h8 >= band2[0]) & (h8 <= band2[1]))
        # delta == 0 pixels have H=0: consistent with rgb_to_hsv_cv
        out[pos] = in_h
    return out


def uint8_stats(img: np.ndarray) -> tuple[float, float]:
    """Mean/std of a uint8 array via one float32 pass + BLAS dot (the
    numpy two-pass float64 std costs ~5x more; F15 input-stats probe —
    a metric, never part of the span-equality surface)."""
    x = img.reshape(-1).astype(np.float32)
    n = x.size
    if n == 0:
        return 0.0, 0.0
    s1 = float(x.sum(dtype=np.float64))
    s2 = float(np.dot(x, x))
    mean = s1 / n
    var = max(s2 / n - mean * mean, 0.0)
    return mean, var**0.5


def erode2(mask: np.ndarray) -> np.ndarray:
    """Binary erosion with a 2x2 kernel, anchor (1,1), border=True (cv2-style)."""
    p = np.pad(mask, ((1, 0), (1, 0)), constant_values=True)
    return p[:-1, :-1] & p[:-1, 1:] & p[1:, :-1] & p[1:, 1:]


def dilate2(mask: np.ndarray) -> np.ndarray:
    """Binary dilation with a 2x2 kernel, anchor (1,1), border=False."""
    p = np.pad(mask, ((0, 1), (0, 1)), constant_values=False)
    return p[:-1, :-1] | p[:-1, 1:] | p[1:, :-1] | p[1:, 1:]


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
# connected components (run-length union-find; 8-connectivity)
# ---------------------------------------------------------------------------


def _runs(mask: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Horizontal runs of True pixels: (row, col_start, col_end_exclusive)."""
    h, w = mask.shape
    padded = np.zeros((h, w + 1), dtype=np.int8)
    padded[:, :w] = mask
    flat = padded.ravel()
    d = np.diff(np.concatenate(([0], flat)))
    starts = np.flatnonzero(d == 1)
    ends = np.flatnonzero(d == -1)
    rows = starts // (w + 1)
    return rows, starts % (w + 1), (ends - 1) % (w + 1) + 1


class _UnionFind:
    __slots__ = ("parent",)

    def __init__(self, n: int) -> None:
        self.parent = list(range(n))

    def find(self, i: int) -> int:
        p = self.parent
        root = i
        while p[root] != root:
            root = p[root]
        while p[i] != root:
            p[i], i = root, p[i]
        return root

    def union(self, a: int, b: int) -> None:
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.parent[max(ra, rb)] = min(ra, rb)


def connected_components(mask: np.ndarray):
    """8-connected labeling via run-length union-find.

    Returns ``(comp_runs, stats)`` where ``comp_runs`` is a list (one entry
    per component, deterministically ordered by (y0, x0) per SURVEY.md O3)
    of ``(rows, c0, c1)`` run arrays, and ``stats`` is a list of dicts
    ``{area, y0, x0, y1, x1}`` (bbox is half-open).  Work is proportional
    to the number of runs, not pixels, so sparse masks are cheap.
    """
    rows, c0, c1 = _runs(mask)
    n = len(rows)
    if n == 0:
        return [], []
    uf = _UnionFind(n)
    # per-row slices (rows is sorted ascending)
    row_break = np.flatnonzero(np.diff(rows)) + 1
    slice_starts = np.concatenate(([0], row_break))
    slice_ends = np.concatenate((row_break, [n]))
    row_vals = rows[slice_starts]
    for k in range(len(row_vals) - 1):
        if row_vals[k + 1] != row_vals[k] + 1:
            continue
        i, i_end = slice_starts[k], slice_ends[k]
        j, j_end = slice_starts[k + 1], slice_ends[k + 1]
        while i < i_end and j < j_end:
            # 8-connectivity: diagonal touch counts -> compare with slack 0
            if c0[j] <= c1[i] and c1[j] >= c0[i]:
                uf.union(i, j)
            if c1[i] <= c1[j]:
                i += 1
            else:
                j += 1
    roots = np.array([uf.find(i) for i in range(n)])
    comp_ids, inv = np.unique(roots, return_inverse=True)
    comps = []
    for ci in range(len(comp_ids)):
        sel = inv == ci
        rr, aa, bb = rows[sel], c0[sel], c1[sel]
        comps.append(
            (
                (rr, aa, bb),
                {
                    "area": int(np.sum(bb - aa)),
                    "y0": int(rr.min()),
                    "x0": int(aa.min()),
                    "y1": int(rr.max()) + 1,
                    "x1": int(bb.max()),
                },
            )
        )
    comps.sort(key=lambda c: (c[1]["y0"], c[1]["x0"]))
    return [c[0] for c in comps], [c[1] for c in comps]


def paint_runs(shape: tuple[int, int], run_sets, origin: tuple[int, int] = (0, 0)) -> np.ndarray:
    """Rasterize run arrays into a bool mask (optionally bbox-local via origin)."""
    out = np.zeros(shape, dtype=bool)
    oy, ox = origin
    for rows, c0, c1 in run_sets:
        for r, a, b in zip(rows.tolist(), c0.tolist(), c1.tolist()):
            out[r - oy, a - ox : b - ox] = True
    return out


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
    if not comp_runs:
        return [], []
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
        local = paint_runs((ch, cw), [(rows, c0, c1)], origin=(y0, x0))
        inv = ~local
        if (
            local[0].all()
            and local[-1].all()
            and local[:, 0].all()
            and local[:, -1].all()
        ):
            # perimeter fully foreground (e.g. a seal plate): every interior
            # background pixel is enclosed -> all inverse runs are holes;
            # skips the inverse union-find entirely (the dominant labeling
            # cost — glyph-bearing crops have ~1k background runs)
            hr, ha, hb = _runs(inv)
            hole_runs = [(hr + y0, ha + x0, hb + x0)] if hr.size else []
            hole_area = int(inv.sum())
        else:
            inv_runs, inv_stats = connected_components(inv)
            hole_runs = [
                (r_ + y0, a_ + x0, b_ + x0)
                for (r_, a_, b_), hst in zip(inv_runs, inv_stats)
                if hst["y0"] > 0 and hst["x0"] > 0 and hst["y1"] < ch and hst["x1"] < cw
            ]
            hole_area = sum(int(np.sum(b_ - a_)) for _, a_, b_ in hole_runs)
        st = dict(st)
        st["area"] = st["area"] + hole_area
        run_sets.append([(rows, c0, c1)] + hole_runs)
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
    out = a.astype(np.float64) * wa + b.astype(np.float64) * (1.0 - wa)
    return np.clip(np.rint(out), 0, 255).astype(np.uint8)


# ---------------------------------------------------------------------------
# CLAHE
# ---------------------------------------------------------------------------


def clahe(channel: np.ndarray, clip_limit: float, grid: int) -> np.ndarray:
    """Contrast-limited adaptive histogram equalization on a uint8 channel.

    Tile grid ``grid x grid``; per-tile clipped histogram -> CDF LUT;
    bilinear interpolation between the four neighboring tile LUTs (cv2
    createCLAHE semantics; uniform redistribution of clipped excess).
    """
    h, w = channel.shape
    th = -(-h // grid)  # ceil
    tw = -(-w // grid)
    ph, pw = th * grid, tw * grid
    padded = np.pad(channel, ((0, ph - h), (0, pw - w)), mode="edge")
    tiles = padded.reshape(grid, th, grid, tw).transpose(0, 2, 1, 3).reshape(grid, grid, th * tw)
    # histograms: (grid, grid, 256)
    hist = np.zeros((grid, grid, 256), dtype=np.float64)
    for gy in range(grid):
        for gx in range(grid):
            hist[gy, gx] = np.bincount(tiles[gy, gx], minlength=256)
    tile_area = th * tw
    clip = max(clip_limit * tile_area / 256.0, 1.0)
    excess = np.sum(np.maximum(hist - clip, 0.0), axis=-1, keepdims=True)
    hist = np.minimum(hist, clip) + excess / 256.0
    cdf = np.cumsum(hist, axis=-1)
    lut = np.clip(np.rint(cdf * 255.0 / tile_area), 0, 255)  # (grid, grid, 256)
    # bilinear interpolation between tile LUTs
    yy = (np.arange(ph, dtype=np.float64) + 0.5) / th - 0.5
    xx = (np.arange(pw, dtype=np.float64) + 0.5) / tw - 0.5
    y0 = np.clip(np.floor(yy), 0, grid - 1).astype(np.int64)
    x0 = np.clip(np.floor(xx), 0, grid - 1).astype(np.int64)
    y1 = np.clip(y0 + 1, 0, grid - 1)
    x1 = np.clip(x0 + 1, 0, grid - 1)
    fy = np.clip(yy - y0, 0.0, 1.0)[:, None]
    fx = np.clip(xx - x0, 0.0, 1.0)[None, :]
    pix = padded.astype(np.int64)
    y0g = y0[:, None]
    y1g = y1[:, None]
    x0g = x0[None, :]
    x1g = x1[None, :]
    v00 = lut[y0g, x0g, pix]
    v01 = lut[y0g, x1g, pix]
    v10 = lut[y1g, x0g, pix]
    v11 = lut[y1g, x1g, pix]
    top = v00 * (1 - fx) + v01 * fx
    bot = v10 * (1 - fx) + v11 * fx
    out = top * (1 - fy) + bot * fy
    return np.clip(np.rint(out[:h, :w]), 0, 255).astype(np.uint8)


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
    is_black = mask & (hsv0[..., 2] < cfg.black_v_max) & (hsv0[..., 1] < cfg.black_s_max)
    red_hue0 = (hsv0[..., 0] < cfg.red_hue_lo) | (hsv0[..., 0] > cfg.red_hue_hi)
    achromatic = hsv0[..., 1] < 8  # H is meaningless without saturation
    is_gray = (
        mask
        & (hsv0[..., 1] < cfg.gray_s_max)
        & (~red_hue0 | (achromatic & (hsv0[..., 2] < 250)))
    )
    hsv = hsv0.astype(np.float64)
    h, s, v = hsv[..., 0], hsv[..., 1], hsv[..., 2]
    boost = mask & red_hue0
    s = np.where(boost, np.minimum(s * cfg.sat_boost, 255.0), s)
    v = np.where(boost, np.minimum(v * cfg.val_boost, 255.0), v)
    v_eq = clahe(np.clip(np.rint(v), 0, 255).astype(np.uint8), cfg.clahe1_clip, cfg.clahe1_grid)
    v = np.where(mask, v_eq.astype(np.float64), v)
    v = np.where(mask, 255.0 * np.power(v / 255.0, cfg.gamma), v)
    out = hsv_to_rgb_cv(
        np.stack(
            [h, np.clip(np.rint(s), 0, 255), np.clip(np.rint(v), 0, 255)], axis=-1
        ).astype(np.uint8)
    )
    out[is_black | is_gray] = 255
    return out


def enhance_red_pass2(img: np.ndarray, mask: np.ndarray, cfg) -> np.ndarray:
    """Red enhancement pass 2 (reference ``src/preprocess.py:280-333``).

    LAB CLAHE on L, HSV S*1.2 / V*1.1, 3x3 sharpen blended 0.7/0.3 —
    applied only under the mask.
    """
    lab = rgb_to_lab_cv(img)
    l_eq = clahe(lab[..., 0], cfg.clahe2_clip, cfg.clahe2_grid)
    lab = lab.copy()
    lab[..., 0] = np.where(mask, l_eq, lab[..., 0])
    step = lab_to_rgb_cv(lab)
    hsv = rgb_to_hsv_cv(step).astype(np.float64)
    hsv[..., 1] = np.minimum(hsv[..., 1] * cfg.sat_boost2, 255.0)
    hsv[..., 2] = np.minimum(hsv[..., 2] * cfg.val_boost2, 255.0)
    step = hsv_to_rgb_cv(np.clip(np.rint(hsv), 0, 255).astype(np.uint8))
    # 3x3 sharpen kernel [[0,-1,0],[-1,5,-1],[0,-1,0]] scaled by amount
    f = step.astype(np.float64)
    p = np.pad(f, ((1, 1), (1, 1), (0, 0)), mode="reflect")
    lap = 5.0 * f - p[:-2, 1:-1] - p[2:, 1:-1] - p[1:-1, :-2] - p[1:-1, 2:]
    sharp = np.clip(np.rint(f * (1.0 - cfg.sharpen_amount) + lap * cfg.sharpen_amount), 0, 255).astype(np.uint8)
    blended = blend(step, sharp, cfg.sharpen_blend_orig)
    out = img.copy()
    out[mask] = blended[mask]
    return out


# per-sector channel source among (0=c, 1=x, 2=z) for hsv_to_rgb_cv
_HSV_SECTOR_R = np.array([0, 1, 2, 2, 1, 0])
_HSV_SECTOR_G = np.array([1, 0, 0, 1, 2, 2])
_HSV_SECTOR_B = np.array([2, 2, 1, 0, 0, 1])


def hsv_to_rgb_cv(hsv: np.ndarray) -> np.ndarray:
    """HSV uint8 (cv2 ranges) -> RGB uint8 (inverse of rgb_to_hsv_cv)."""
    h = hsv[..., 0].astype(np.float64) * 2.0
    s = hsv[..., 1].astype(np.float64) / 255.0
    v = hsv[..., 2].astype(np.float64)
    c = v * s
    hp = h / 60.0
    x = c * (1.0 - np.abs(hp % 2.0 - 1.0))
    m = v - c
    z = np.zeros_like(c)
    sector = np.floor(hp).astype(np.int64) % 6
    # one gather per channel from the stacked (c, x, z) planes instead of
    # six boolean np.select passes per channel (18 full-frame scans —
    # measured ~12% of the whole kernel); np.choose picks the IDENTICAL
    # element each np.select matched, so values are bit-equal
    cxz = (c, x, z)
    r = np.choose(_HSV_SECTOR_R[sector], cxz)
    g = np.choose(_HSV_SECTOR_G[sector], cxz)
    b = np.choose(_HSV_SECTOR_B[sector], cxz)
    out = np.stack([r + m, g + m, b + m], axis=-1)
    return np.clip(np.rint(out), 0, 255).astype(np.uint8)
