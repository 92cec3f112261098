"""Kernel-stage micro tests (SURVEY.md section 5, test strategy #1).

cv2 is unavailable in this environment, so each stage is pinned against a
longhand reimplementation or hand-computed arrays (FIXTURES.md section 4).
"""

import numpy as np
import pytest

from red_seal_ocr_spark.config import DEFAULT_CONFIG as CFG
from red_seal_ocr_spark.functions.imageops import (
    blend,
    clahe,
    connected_components,
    convert_scale_abs,
    dilate2,
    enhance_image,
    enhance_red_pass1,
    enhance_red_pass2,
    erode2,
    filled_components,
    hsv_to_rgb_cv,
    lab_to_rgb_cv,
    morph_close,
    morph_open,
    paint_runs,
    red_mask,
    resize_area,
    rgb_to_hsv_cv,
    rgb_to_lab_cv,
)

RNG = np.random.default_rng(42)


# --- HSV -------------------------------------------------------------------


def test_hsv_longhand_equivalence():
    x = RNG.integers(0, 256, (64, 64, 3), dtype=np.uint8)
    got = rgb_to_hsv_cv(x)
    f = x.astype(np.float64)
    r, g, b = f[..., 0], f[..., 1], f[..., 2]
    v = f.max(-1)
    mn = f.min(-1)
    d = v - mn
    s = np.where(v > 0, 255 * d / np.maximum(v, 1e-9), 0)
    safe = np.maximum(d, 1e-9)
    h = np.where(
        d == 0,
        0,
        np.where(v == r, 60 * (g - b) / safe,
                 np.where(v == g, 120 + 60 * (b - r) / safe, 240 + 60 * (r - g) / safe)),
    )
    h = np.where(h < 0, h + 360, h) / 2
    want = np.stack(
        [np.floor(h + 0.5) % 180, np.clip(np.floor(s + 0.5), 0, 255), v], -1
    ).astype(np.uint8)
    assert (got == want).all()


@pytest.mark.parametrize(
    "rgb,hsv",
    [
        ((255, 0, 0), (0, 255, 255)),      # pure red
        ((0, 255, 0), (60, 255, 255)),     # green
        ((0, 0, 255), (120, 255, 255)),    # blue
        ((255, 255, 255), (0, 0, 255)),    # white
        ((0, 0, 0), (0, 0, 0)),            # black
        ((128, 128, 128), (0, 0, 128)),    # gray
    ],
)
def test_hsv_hand_cases(rgb, hsv):
    got = rgb_to_hsv_cv(np.array([[rgb]], dtype=np.uint8))[0, 0]
    assert tuple(got) == hsv


def test_hsv_rgb_roundtrip_on_saturated_colors():
    from red_seal_ocr_spark.sources.datagen import SEAL_REDS

    for rgb in SEAL_REDS:
        hsv = rgb_to_hsv_cv(np.array([[rgb]], dtype=np.uint8))
        back = hsv_to_rgb_cv(hsv)[0, 0]
        # uint8 H quantization (1 H step = 2 degrees) allows small drift
        assert np.abs(back.astype(int) - np.array(rgb)).max() <= 4


def test_lab_roundtrip():
    x = RNG.integers(0, 256, (16, 16, 3), dtype=np.uint8)
    back = lab_to_rgb_cv(rgb_to_lab_cv(x))
    assert np.abs(back.astype(int) - x.astype(int)).max() <= 4


# --- red mask / morphology ---------------------------------------------------


def test_red_mask_bands():
    from red_seal_ocr_spark.sources.datagen import BLACK, GRAY, OFF_RED, SEAL_REDS

    img = np.array([SEAL_REDS + [OFF_RED, BLACK, GRAY, (255, 255, 255)]], dtype=np.uint8)
    hsv = rgb_to_hsv_cv(img)
    m = red_mask(hsv, CFG.hue_band1, CFG.hue_band2, CFG.sat_min, CFG.val_min)
    assert m[0, : len(SEAL_REDS)].all()
    assert not m[0, len(SEAL_REDS) :].any()


def test_morph_open_removes_speck_keeps_block():
    m = np.zeros((12, 12), dtype=bool)
    m[2, 2] = True           # 1-px speck
    m[5:10, 5:10] = True     # 5x5 block
    out = morph_open(m)
    assert not out[2, 2]
    assert out[5:10, 5:10].all()
    assert out.sum() == 25


def test_morph_close_fills_1px_gap():
    m = np.ones((8, 8), dtype=bool)
    m[:, 4] = False  # 1-px slit
    out = morph_close(m)
    assert out.all()


def test_erode_dilate_inverse_on_rectangle():
    m = np.zeros((10, 10), dtype=bool)
    m[3:8, 2:9] = True
    assert (morph_open(m) == m).all()
    assert (morph_close(m) == m).all()


def test_dilate_grows_erode_shrinks():
    m = np.zeros((9, 9), dtype=bool)
    m[4, 4] = True
    d = dilate2(m)
    assert d.sum() == 4  # 2x2 structuring element
    assert erode2(d).sum() == 1


# --- connected components ----------------------------------------------------


def test_components_two_blocks_ordered():
    m = np.zeros((20, 20), dtype=bool)
    m[12:15, 1:4] = True   # lower-left
    m[2:5, 10:14] = True   # upper-right
    runs, stats = connected_components(m)
    assert len(stats) == 2
    # deterministic (y0, x0) ordering
    assert stats[0]["y0"] == 2 and stats[0]["x0"] == 10
    assert stats[1]["y0"] == 12 and stats[1]["x0"] == 1
    assert stats[0]["area"] == 12 and stats[1]["area"] == 9


def test_components_diagonal_is_8connected():
    m = np.zeros((4, 4), dtype=bool)
    m[0, 0] = m[1, 1] = m[2, 2] = True
    _, stats = connected_components(m)
    assert len(stats) == 1
    assert stats[0]["area"] == 3


def test_filled_components_fills_holes():
    m = np.zeros((10, 12), dtype=bool)
    m[1:9, 1:11] = True
    m[3:6, 3:8] = False  # hole
    run_sets, stats = filled_components(m)
    assert len(stats) == 1
    assert stats[0]["area"] == 8 * 10  # filled area includes the hole
    painted = paint_runs(m.shape, run_sets[0])
    assert painted[3:6, 3:8].all()


def test_filled_components_border_background_not_hole():
    m = np.zeros((6, 6), dtype=bool)
    m[2:4, 2:4] = True
    run_sets, stats = filled_components(m)
    assert stats[0]["area"] == 4
    assert paint_runs(m.shape, run_sets[0]).sum() == 4


def test_components_empty():
    runs, stats = connected_components(np.zeros((5, 5), dtype=bool))
    assert runs == [] and stats == []


# --- resize ------------------------------------------------------------------


def test_resize_area_integer_ratio_exact_box_mean():
    x = RNG.integers(0, 256, (12, 18, 3), dtype=np.uint8)
    out = resize_area(x, 4, 6)
    want = x.reshape(4, 3, 6, 3, 3).mean(axis=(1, 3))
    assert np.abs(out.astype(float) - np.rint(want)).max() <= 1


def test_resize_area_preserves_mean():
    x = RNG.random((30, 40))
    out = resize_area(x, 11, 17)
    assert abs(out.mean() - x.mean()) < 0.02


def test_resize_area_identity():
    x = RNG.integers(0, 256, (7, 9), dtype=np.uint8)
    assert (resize_area(x, 7, 9) == x).all()


# --- scalar helpers ----------------------------------------------------------


def test_convert_scale_abs():
    x = np.array([[0, 100, 250]], dtype=np.uint8)
    out = convert_scale_abs(x, 1.1, 0)
    assert (out == np.array([[0, 110, 255]])).all()


def test_blend_saturates():
    a = np.full((3, 3), 200, dtype=np.uint8)
    b = np.full((3, 3), 100, dtype=np.uint8)
    assert (blend(a, b, 0.5) == 150).all()


# --- CLAHE -------------------------------------------------------------------


def test_clahe_uniform_image_stays_uniformish():
    x = np.full((64, 64), 128, dtype=np.uint8)
    out = clahe(x, 2.0, 8)
    assert out.std() < 2.0


def test_clahe_stretches_low_contrast():
    x = (RNG.integers(100, 140, (64, 64))).astype(np.uint8)
    out = clahe(x, 4.0, 4)
    assert out.max() - out.min() > x.max() - x.min()


def test_clahe_deterministic():
    x = RNG.integers(0, 256, (50, 70), dtype=np.uint8)
    assert (clahe(x, 3.0, 3) == clahe(x, 3.0, 3)).all()


# --- enhancement passes -------------------------------------------------------


def test_enhance_image_deterministic_and_shape():
    x = RNG.integers(0, 256, (40, 50, 3), dtype=np.uint8)
    out = enhance_image(x, CFG)
    assert out.shape == x.shape and out.dtype == np.uint8
    assert (out == enhance_image(x, CFG)).all()


def test_enhance_red_pass1_removes_black_and_gray_under_mask():
    img = np.full((10, 10, 3), 255, dtype=np.uint8)
    img[2, 2] = (20, 20, 20)      # black interference
    img[3, 3] = (150, 150, 150)   # gray interference
    img[4, 4] = (220, 20, 30)     # seal red
    mask = np.ones((10, 10), dtype=bool)
    out = enhance_red_pass1(img, mask, CFG)
    assert (out[2, 2] == 255).all()
    assert (out[3, 3] == 255).all()
    hsv = rgb_to_hsv_cv(out)
    assert red_mask(hsv, CFG.hue_band1, CFG.hue_band2, CFG.sat_min, CFG.val_min)[4, 4]


def test_enhance_red_pass2_keeps_red_red():
    img = np.full((12, 12, 3), 255, dtype=np.uint8)
    img[3:9, 3:9] = (200, 30, 20)
    mask = np.zeros((12, 12), dtype=bool)
    mask[3:9, 3:9] = True
    out = enhance_red_pass2(img, mask, CFG)
    hsv = rgb_to_hsv_cv(out)
    m = red_mask(hsv, CFG.hue_band1, CFG.hue_band2, CFG.sat_min, CFG.val_min)
    assert m[4:8, 4:8].all()
    assert (out[~mask] == 255).all()  # untouched outside mask


# ---------------------------------------------------------------------------
# NL-means denoise (F1 — the reference's algorithm, VERDICT r02 missing #4)
# ---------------------------------------------------------------------------


def test_nl_means_flat_image_identity():
    from red_seal_ocr_spark.functions.imageops import nl_means_denoise

    flat = np.full((40, 40, 3), 137, dtype=np.uint8)
    assert np.array_equal(nl_means_denoise(flat), flat)


def test_nl_means_reduces_noise_on_flat_region():
    from red_seal_ocr_spark.functions.imageops import nl_means_denoise

    rng = np.random.Generator(np.random.PCG64(9))
    clean = np.full((48, 48, 3), 128, dtype=np.float64)
    noisy = np.clip(clean + rng.normal(0, 12, clean.shape), 0, 255).astype(np.uint8)
    den = nl_means_denoise(noisy, h=12.0)
    mse_before = ((noisy.astype(float) - clean) ** 2).mean()
    mse_after = ((den.astype(float) - clean) ** 2).mean()
    assert mse_after < mse_before / 4  # strong smoothing on self-similar noise


def test_nl_means_preserves_edges_better_than_box_blur():
    from red_seal_ocr_spark.functions.imageops import box_blur3, nl_means_denoise

    rng = np.random.Generator(np.random.PCG64(10))
    clean = np.full((48, 48, 3), 40, dtype=np.float64)
    clean[:, 24:] = 215  # hard vertical edge
    noisy = np.clip(clean + rng.normal(0, 8, clean.shape), 0, 255).astype(np.uint8)
    den = nl_means_denoise(noisy, h=8.0)
    blurred = box_blur3(noisy)
    # compare reconstruction of the two columns flanking the edge
    edge = (slice(None), slice(23, 25), slice(None))
    err_nlm = np.abs(den[edge].astype(float) - clean[edge]).mean()
    err_box = np.abs(blurred[edge].astype(float) - clean[edge]).mean()
    assert err_nlm < err_box  # box blur smears the edge, NL-means shouldn't


def test_nl_means_deterministic_and_shapes():
    from red_seal_ocr_spark.functions.imageops import nl_means_denoise

    rng = np.random.Generator(np.random.PCG64(11))
    img = rng.integers(0, 256, (31, 37, 3), dtype=np.uint8)
    a = nl_means_denoise(img)
    assert a.shape == img.shape and a.dtype == np.uint8
    assert np.array_equal(a, nl_means_denoise(img))
    g = rng.integers(0, 256, (20, 22), dtype=np.uint8)
    assert nl_means_denoise(g).shape == g.shape


def test_nl_means_output_ndim_mirrors_input_ndim():
    """ADVICE r03: an HxWx1 3D input must come back 3D (only genuinely
    2D callers get a 2D result)."""
    import numpy as np

    from red_seal_ocr_spark.functions.imageops import nl_means_denoise

    rng = np.random.Generator(np.random.PCG64(7))
    g2d = rng.integers(0, 256, (16, 16), dtype=np.uint8)
    g3d = g2d[:, :, None]
    out2d = nl_means_denoise(g2d)
    out3d = nl_means_denoise(g3d)
    assert out2d.shape == (16, 16)
    assert out3d.shape == (16, 16, 1)
    assert np.array_equal(out3d[:, :, 0], out2d)
